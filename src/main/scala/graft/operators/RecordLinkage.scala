package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.SqlFragments.{Grid30, snap}

/** Fellegi–Sunter probabilistic record linkage (the 1969 decision
  * model under conditional independence — the scorer inside Splink and
  * every census-style deduplication): candidate pairs from an exact
  * BLOCKING key, per-field agreement weights
  *
  *   agree:    w_f = log₂(m_f / u_f)
  *   disagree: w̄_f = log₂((1−m_f) / (1−u_f))
  *
  * summed to a match score, banded at the link / possible / non-link
  * thresholds. The u-probabilities (chance agreement between
  * NON-matches) are ESTIMATED FROM THE DATA by the standard
  * random-pairing identity u_f = Σ_v P_A(v)·P_B(v) — exact integer
  * cross-products over the two per-field value-frequency tables; the
  * m-probabilities are the caller's prior (Splink would EM them; a
  * fixed prior keeps the oracle a closed replay).
  *
  * Scale shape: u estimation is two keyed aggs + one value-keyed join
  * per field (value tables, not pair tables); candidate generation is
  * the block equi-join — quadratic ONLY within a block, the caller's
  * blocking key choice (same contract as the dedup family's LSH
  * bands). Weights are snapped to the 2⁻³⁰ grid after the one log₂
  * per field (model-sized), so pair scores are sums of dyadic
  * rationals — exact on any engine.
  *
  * Output: one row (n_pairs, n_link, n_possible, n_nonlink,
  * min_score, max_score).
  */
object RecordLinkage {

  private val Eps = 1.0 / Grid30

  /** @param a, b     the two sides, pre-projected to (blockCol, fields...)
    * @param blockCol exact blocking key
    * @param fields   comparison fields (same names both sides)
    * @param m        prior P(field agrees | true match)
    * @param tLink    score ≥ tLink → link
    * @param tNon     score ≤ tNon → non-link
    */
  def fellegiSunter(
      a: DataFrame,
      b: DataFrame,
      blockCol: String,
      fields: Seq[String],
      m: Double = 0.9,
      tLink: Double = 2.0,
      tNon: Double = -2.0
  ): DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    val na = a.count()
    val nb = b.count()
    require(na > 0 && nb > 0, "both sides must be non-empty")
    // One-row weight table per field: u clamped away from {0, 1} so the
    // logs stay finite on degenerate (disjoint or constant) fields.
    val wTables = fields.map { f =>
      val ca = a.groupBy(col(f).as("va")).agg(count(lit(1)).as("ca"))
      val cb = b.groupBy(col(f).as("vb")).agg(count(lit(1)).as("cb"))
      // NULL-SAFE value join: pair scoring below counts NULL <=> NULL as
      // agreement, so the chance-agreement estimate must count the NULL
      // value bucket too — an inner join on `=` would drop it and compute
      // u against a distribution that excludes the very matches the
      // agreement weight rewards (nullable-field bias).
      ca.join(cb, col("va") <=> col("vb"))
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("hits"))
        .select(
          greatest(
            least(
              snap(col("hits").cast("double") / lit(na.toDouble * nb)),
              lit(1.0 - Eps)),
            lit(Eps)).as("u"))
        .select(
          snap(log2(lit(m) / col("u"))).as(s"wa_$f"),
          snap(log2(lit(1.0 - m) / (lit(1.0) - col("u")))).as(s"wd_$f"))
    }
    val aa = a.select(
      col(blockCol).as("block") +: fields.map(f => col(f).as(s"${f}_a")): _*)
    val bb = b.select(
      col(blockCol).as("block") +: fields.map(f => col(f).as(s"${f}_b")): _*)
    val withW = wTables.foldLeft(aa.join(bb, "block"))(
      (df, wt) => df.crossJoin(broadcast(wt)))
    val score = fields
      .map(f =>
        when(col(s"${f}_a") <=> col(s"${f}_b"), col(s"wa_$f")).otherwise(col(s"wd_$f")))
      .reduce(_ + _)
    withW
      .select(score.as("score"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("score") >= tLink, 1L).otherwise(0L)).as("n_link"),
        sum(when(col("score") > tNon && col("score") < tLink, 1L).otherwise(0L))
          .as("n_possible"),
        sum(when(col("score") <= tNon, 1L).otherwise(0L)).as("n_nonlink"),
        round(min(col("score")), 6).as("min_score"),
        round(max(col("score")), 6).as("max_score"))
  }
}
