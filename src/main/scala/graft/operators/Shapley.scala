package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.SqlFragments.snapD

/** Exact Shapley-value multi-touch attribution.
  *
  * Complements the Markov removal-effect model
  * ([[graft.operators.Sessionize.markovAttribution]]) with the other
  * canonical data-driven attribution scheme: each user contributes their
  * distinct pre-conversion channel SET, the characteristic function
  * v(S) is the observed conversion rate of users whose touch set is
  * exactly S (unobserved coalitions contribute v = 0, the standard
  * simplified game of Zhao et al., "Shapley Value Methods for
  * Attribution Modeling in Online Advertising"), and each channel's
  * credit is its exact Shapley value
  *
  *   φ_i = Σ_{S ∋ i} (|S|-1)!·(n-|S|)!/n! · (v(S) - v(S\{i}))
  *
  * enumerated over ALL 2^n - 1 coalitions — exact, not sampled, because
  * the channel alphabet is small (n ≤ [[Shapley.MaxChannels]] enforced).
  *
  * Scale shape: the corpus-sized work is one user-keyed distinct-set
  * aggregation (a single exchange on user_id, then one on the set key);
  * the coalition table is at most 2^n - 1 rows — bounded MODEL state
  * (the k-means/Markov posture), collected to the driver only after the
  * aggregation. Nothing downstream of the agg touches corpus rows, so
  * 100 TB of events still costs two shuffles.
  *
  * Determinism contract: every per-coalition term is snapped to the
  * 2⁻³⁰ grid BEFORE summation; snapped terms are dyadic rationals of
  * magnitude < 2³, so the ≤ 2^(n-1)-term sum is exact in double in ANY
  * order and a relational oracle replays φ bit-identically.
  */
object Shapley {

  /** Hard cap on the channel alphabet — 2^n coalition enumeration. */
  val MaxChannels = 8

  private def fact(n: Int): Long = (1 to n).foldLeft(1L)(_ * _)

  /** Shapley attribution over `events(user_id, event_type)`.
    *
    * @param conversion the absorbing conversion event type; every other
    *                   event type is a touch channel
    * @return (channel, n_users_touched, shapley) sorted by channel
    */
  def attribution(events: DataFrame, conversion: String = "purchase"): DataFrame = {
    val spark = events.sparkSession

    // per-user touch set (sorted distinct non-conversion channels) + converted flag
    val perUser = events
      .groupBy(col("user_id"))
      .agg(
        array_sort(array_distinct(collect_list(
          when(col("event_type") =!= conversion, col("event_type"))))).as("touch_set"),
        max(when(col("event_type") === conversion, 1).otherwise(0)).as("converted"))
      .filter(size(col("touch_set")) > 0)

    // coalition table: one row per OBSERVED exact touch set
    val coalitions = perUser
      .groupBy(col("touch_set"))
      .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_conv"))

    // bounded model state: ≤ 2^MaxChannels rows after the agg
    val rows: Array[Row] = coalitions.collect()
    val observed: Map[Seq[String], (Long, Long)] = rows.map { r =>
      (r.getSeq[String](0).toList: Seq[String]) -> (r.getLong(1), r.getLong(2))
    }.toMap
    val channels: Seq[String] = observed.keys.flatten.toSeq.distinct.sorted
    val n = channels.size
    require(
      n <= MaxChannels,
      s"channel alphabet $n exceeds $MaxChannels — exact coalition enumeration is 2^n")

    def v(s: Seq[String]): Double = observed.get(s) match {
      case Some((u, c)) => c.toDouble / u.toDouble // IEEE division, oracle-replayable
      case None => 0.0
    }

    val nFact = fact(n).toDouble
    val touched: Map[String, Long] = channels.map { ch =>
      ch -> rows.collect {
        case r if r.getSeq[String](0).contains(ch) => r.getLong(1)
      }.sum
    }.toMap

    val out = channels.map { ch =>
      var phi = 0.0
      // all coalitions S ∋ ch, enumerated by bitmask over the sorted alphabet
      for (mask <- 1 until (1 << n)) {
        val members = channels.indices.filter(i => (mask & (1 << i)) != 0).map(channels)
        if (members.contains(ch)) {
          val w = fact(members.size - 1) * fact(n - members.size) / nFact
          val term = snapD((v(members) - v(members.filterNot(_ == ch))) * w)
          phi += term // exact: dyadic terms, |phi| < 2^3
        }
      }
      Row(ch, touched(ch), snapD(phi))
    }

    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1),
      StructType(Seq(
        StructField("channel", StringType, nullable = false),
        StructField("n_users_touched", LongType, nullable = false),
        StructField("shapley", DoubleType, nullable = false)))
    ).orderBy(col("channel"))
  }
}
