package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.SqlFragments.{Grid30, snap, snapD}

/** Batch sessionization + marketing-style attribution over an event
  * stream — the gaps-and-islands twin of the streaming session windows
  * (q48/q68), taken one step further to the attribution report.
  */
object Sessionize {

  /** WEEKLY RETENTION COHORT MATRIX — the product-analytics staple:
    * users grouped by first-seen week, each later week's activity
    * reported as (cohort_week, week offset) cells with exact distinct
    * users and the retention ratio. Two user-keyed aggregates (first
    * touch, then distinct user-week activity) and one broadcast-sized
    * join against cohort sizes — at 100 TB the only corpus-scale work
    * is the two keyed passes; the matrix itself is weeks² rows. Week
    * arithmetic stays on Monday-truncated dates (datediff/7 is exact on
    * truncated pairs — no float date math).
    *
    * Output: (cohort_week, week_offset, active_users, cohort_size,
    * retention).
    */
  def retentionMatrix(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val firstWeek = events
      .groupBy(col(userCol))
      .agg(date_trunc("week", min(col(tsCol))).cast("date").as("cw"))
    val sizes = firstWeek.groupBy(col("cw"))
      .agg(count(lit(1)).as("cohort_size"))
    val active = events
      .select(col(userCol), date_trunc("week", col(tsCol)).cast("date").as("aw"))
      .join(firstWeek, userCol)
      .select(
        col(userCol), col("cw"),
        (datediff(col("aw"), col("cw")) / 7).cast("int").as("week_offset"))
      .distinct()
      .groupBy(col("cw"), col("week_offset"))
      .agg(count(lit(1)).as("active_users"))
    active
      // hint-free: cohort sizes are week-keyed (data-dependent); AQE
      // picks the build side from runtime sizes
      .join(sizes, "cw")
      .select(
        col("cw").as("cohort_week"), col("week_offset"),
        col("active_users"), col("cohort_size"),
        round(col("active_users").cast("double") / col("cohort_size"), 6)
          .as("retention"))
  }

  /** First-touch attribution with conversion rates: events split into
    * sessions at inactivity gaps > `gapSec`; each session is attributed
    * to its FIRST event's type (µs timestamp order, event_id tie-break);
    * a session converts if it contains a 'purchase'. Two window passes
    * over user-partitioned events (lag for the break flags, running sum
    * for session ids) — one user-keyed shuffle total, then group-sized
    * aggregates.
    *
    * Output per first-touch type: (first_type, n_sessions, n_converted,
    * cvr).
    */
  def firstTouchAttribution(events: DataFrame, gapSec: Long = 1800): DataFrame = {
    require(gapSec > 0, "gapSec must be positive")
    val byUser = Window
      .partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val e = events.select(
      col("user_id"),
      col("event_id"),
      col("event_type"),
      unix_micros(col("ts")).as("us"))
    val lagUs = lag(col("us"), 1).over(byUser)
    val s = e
      .withColumn(
        "brk",
        when(lagUs.isNull || col("us") - lagUs > gapSec * 1000000L, 1).otherwise(0))
      .withColumn("sess", sum(col("brk")).over(byUser))
    val bySession = Window
      .partitionBy(col("user_id"), col("sess"))
      .orderBy(col("us"), col("event_id"))
    s
      .withColumn("first_type", first(col("event_type")).over(bySession))
      .groupBy(col("user_id"), col("sess"))
      .agg(
        min(col("first_type")).as("first_type"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("purchased"))
      .groupBy(col("first_type"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("purchased")).as("n_converted"),
        round(sum(col("purchased")) / count(lit(1)), 6).as("cvr"))
  }

  /** POSITION-BASED (U-shaped) attribution: in each converting session
    * the touches BEFORE the first purchase split the conversion credit
    * 40% first / 40% last / 20% spread over the middles (the standard
    * position-based model — the missing classic between
    * [[firstTouchAttribution]] and the Shapley/Markov models). Edge
    * rules: a single touch takes 1.0, two touches take 0.5 each. Each
    * touch's credit is snapped to the 2⁻³⁰ grid before the per-channel
    * sum so the oracle lands on identical dyadic terms.
    *
    * One user-keyed session pass + one channel aggregate. Output:
    * (channel, n_touches, credit).
    */
  def positionAttribution(events: DataFrame, gapSec: Long = 1800): DataFrame = {
    require(gapSec > 0, "gapSec must be positive")
    val byUser = Window
      .partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val e = events.select(
      col("user_id"), col("event_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    val lagUs = lag(col("us"), 1).over(byUser)
    val s = e
      .withColumn(
        "brk",
        when(lagUs.isNull || col("us") - lagUs > gapSec * 1000000L, 1).otherwise(0))
      .withColumn("sess", sum(col("brk")).over(byUser))
    val bySession = Window
      .partitionBy(col("user_id"), col("sess"))
      .orderBy(col("us"), col("event_id"))
    val sessW = Window.partitionBy(col("user_id"), col("sess"))
    val touches = s
      .withColumn("pos", row_number().over(bySession))
      .withColumn(
        "first_p",
        min(when(col("event_type") === "purchase", col("pos"))).over(sessW))
      .filter(col("first_p").isNotNull && col("pos") < col("first_p"))
      .withColumn("k", max(col("pos")).over(sessW))
    val credit = when(col("k") === 1, lit(1.0))
      .when(col("k") === 2, lit(0.5))
      .when(col("pos") === 1 || col("pos") === col("k"), lit(0.4))
      .otherwise(lit(0.2) / (col("k") - 2).cast("double"))
    touches
      .select(col("event_type").as("channel"), snap(credit).as("cr"))
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_touches"),
        round(sum(col("cr")), 6).as("credit"))
  }

  /** Rolling DAU / WAU / stickiness: for every day in the corpus span,
    * the distinct users active THAT day, the distinct users active in
    * the trailing `windowDays` window, and their ratio (the DAU/WAU
    * stickiness product metric).
    *
    * Rolling DISTINCT does not decompose over a window agg, so the
    * standard relational trick: dedup to (user, day) pairs — one keyed
    * agg, corpus→user·day sized — then each pair contributes membership
    * to the `windowDays` forward window days via a fixed explode, and a
    * second distinct count per (window day). Work is windowDays ×
    * user-days, never windowDays × events; all date math is exact
    * integer epoch-days.
    *
    * Output per day: (day_date, dau, wau, stickiness).
    */
  def rollingActiveUsers(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    val userDays = events
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
      // user·day-sized; consumed by bounds, DAU, and the window explode
      .localCheckpoint()
    val bounds = userDays.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val dau = userDays.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = userDays
      .withColumn("wday", explode(sequence(col("day"), col("day") + (windowDays - 1))))
      .select(col("user_id"), col("wday").as("day"))
      .distinct()
      .groupBy(col("day"))
      .agg(count(lit(1)).as("wau"))
    dau
      .join(wau, Seq("day"))
      .crossJoin(broadcast(bounds))
      .filter(col("day") <= col("mx"))
      .select(
        to_date(timestamp_micros(col("day") * 86400000000L)).as("day_date"),
        col("dau"),
        col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 6).as("stickiness"))
  }

  /** Top session paths — the "what do users actually do" sequence view:
    * events split into sessions at `gapSec` inactivity gaps (the
    * [[firstTouchAttribution]] islands), each session reduced to its
    * first `maxSteps` event types joined with '>', most common paths
    * ranked. The per-session ordered reduction happens INSIDE the
    * session group (sorted-struct fold, total (ts, event_id) order — no
    * second window pass), and the final ranking is a partial top-n
    * (TakeOrderedAndProject), never a global sort.
    *
    * Output: top `topK` (path, n_sessions) by frequency, path tie-break.
    */
  def topSessionPaths(
      events: DataFrame,
      gapSec: Long = 1800,
      maxSteps: Int = 5,
      topK: Int = 10
  ): DataFrame = {
    require(gapSec > 0 && maxSteps >= 1 && topK >= 1, "bad parameters")
    val byUser = Window
      .partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val lagUs = lag(col("us"), 1).over(byUser)
    events
      .select(
        col("user_id"),
        col("event_id"),
        col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn(
        "brk",
        when(lagUs.isNull || col("us") - lagUs > gapSec * 1000000L, 1).otherwise(0))
      .withColumn("sess", sum(col("brk")).over(byUser))
      .groupBy(col("user_id"), col("sess"))
      .agg(
        expr(
          s"""array_join(
                transform(
                  slice(array_sort(collect_list(named_struct(
                    'us', us, 'eid', event_id, 'et', event_type))), 1, $maxSteps),
                  x -> x.et),
                '>')""").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(topK)
  }

  /** Cohort LTV curves — [[retentionMatrix]]'s revenue sibling: users
    * cohorted by first-seen week, per-(cohort, week-offset) revenue in
    * exact integer cents, CUMULATIVE revenue along each cohort's
    * timeline, and LTV-per-user = cum / cohort size. The running sum is
    * a cohort-partitioned window over the cohort × offset matrix —
    * calendar-bounded, never event-bounded.
    *
    * Output: (cohort_week, week_offset, cohort_size, cum_revenue_cents,
    * ltv_per_user).
    */
  def cohortLtv(events: DataFrame): DataFrame = {
    val firstWeek = events
      .groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cw"))
      // user-count-sized; consumed by cohort sizes and the revenue join
      .localCheckpoint()
    val sizes = firstWeek.groupBy(col("cw")).agg(count(lit(1)).as("cohort_size"))
    val rev = events
      .select(
        col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("aw"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .join(firstWeek, "user_id")
      .select(col("cw"), (datediff(col("aw"), col("cw")) / 7).cast("int").as("week_offset"), col("c"))
      .groupBy(col("cw"), col("week_offset"))
      .agg(sum(col("c")).as("week_cents"))
    val wCum = Window
      .partitionBy(col("cw"))
      .orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, 0)
    rev
      .withColumn("cum_revenue_cents", sum(col("week_cents")).over(wCum))
      .join(sizes, "cw")
      .select(
        col("cw").as("cohort_week"),
        col("week_offset"),
        col("cohort_size"),
        col("cum_revenue_cents"),
        round(
          col("cum_revenue_cents").cast("double") / 100.0 / col("cohort_size").cast("double"),
          6).as("ltv_per_user"))
  }

  /** Markov removal-effect attribution (the data-driven multi-touch
    * model): sessions become start → channel → … → {purchase | drop}
    * chains (absorbed at the FIRST purchase), the transition matrix is
    * estimated from counts, and each channel's credit is its REMOVAL
    * EFFECT — how much the start→purchase absorption probability falls
    * when paths through that channel are cut. Absorption is computed by
    * `iters` value-iteration steps p(s) ← P(s,conv) + Σ_t P(s,t)·p(t)
    * on the CHANNEL-COUNT-sized matrix (driver-side bounded model
    * state, the k-means posture), each component snapped to the 2⁻³⁰
    * grid so a relational replay reconstructs the identical chain;
    * removing channel c excludes t = c from every sum.
    *
    * Corpus-scale work: one user-keyed session pass + one
    * transition-count agg. Output per removable channel:
    * (channel, base_p, removed_p, removal_effect).
    */
  def markovAttribution(
      events: DataFrame,
      gapSec: Long = 1800,
      iters: Int = 12
  ): DataFrame = {
    require(gapSec > 0 && iters >= 1, "bad parameters")
    val byUser = Window
      .partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val lagUs = lag(col("us"), 1).over(byUser)
    val sessioned = events
      .select(
        col("user_id"),
        col("event_id"),
        col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn(
        "brk",
        when(lagUs.isNull || col("us") - lagUs > gapSec * 1000000L, 1).otherwise(0))
      .withColumn("sess", sum(col("brk")).over(byUser))
    val bySess = Window
      .partitionBy(col("user_id"), col("sess"))
      .orderBy(col("us"), col("event_id"))
    val kept = sessioned
      .withColumn("pos", row_number().over(bySess))
      .withColumn(
        "first_p",
        min(when(col("event_type") === "purchase", col("pos")))
          .over(Window.partitionBy(col("user_id"), col("sess"))))
      .filter(col("first_p").isNull || col("pos") <= col("first_p"))
    val steps = kept
      .withColumn("nxt", lead(col("event_type"), 1).over(bySess))
      .select(
        col("user_id"), col("sess"), col("pos"), col("event_type").as("cur"),
        col("nxt"))
    val trans = steps
      .filter(col("pos") === 1)
      .select(lit("start").as("from_state"), col("cur").as("to_state"))
      .union(
        steps
          .filter(col("nxt").isNotNull)
          .select(col("cur").as("from_state"), col("nxt").as("to_state")))
      .union(
        steps
          .filter(col("nxt").isNull && col("cur") =!= "purchase")
          .select(col("cur").as("from_state"), lit("drop").as("to_state")))
      .groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("c"))
    // channel-count² rows — the bounded model state
    val rows = trans.collect()
    val totals = rows.groupBy(_.getString(0)).map { case (s, rs) =>
      s -> rs.map(_.getLong(2)).sum
    }
    val prob = rows.map { r =>
      (r.getString(0), r.getString(1)) -> r.getLong(2).toDouble / totals(r.getString(0))
    }.toMap
    val states = totals.keySet.toSeq.sorted // every state with outgoing edges
    def absorption(removed: Option[String]): Double = {
      var p = states.map(_ -> 0.0).toMap
      for (_ <- 1 to iters) {
        p = states.map { s =>
          val acc = prob.getOrElse((s, "purchase"), 0.0) +
            states
              .filter(t => t != "start" && !removed.contains(t))
              .map(t => prob.getOrElse((s, t), 0.0) * p(t))
              .sum
          s -> snapD(acc)
        }.toMap
      }
      p("start")
    }
    val baseP = absorption(None)
    val spark = events.sparkSession
    import spark.implicits._
    states
      .filter(s => s != "start" && s != "purchase")
      .map { c =>
        val removedP = absorption(Some(c))
        val re = if (baseP > 0) (baseP - removedP) / baseP else 0.0
        (c,
          math.floor(baseP * 1e6 + 0.5) / 1e6,
          math.floor(removedP * 1e6 + 0.5) / 1e6,
          math.floor(re * 1e6 + 0.5) / 1e6)
      }
      .toDF("channel", "base_p", "removed_p", "removal_effect")
  }

  /** First-order Markov transition matrix of the per-user event stream:
    * each user's events ordered by (ts, event_id) yield (cur → next)
    * transition counts, row-normalized into transition probabilities,
    * plus the per-state transition entropy H(cur) = −Σ p·ln p — the
    * "how predictable is the next action" statistic sequence models are
    * trained against.
    *
    * One user-keyed shuffle for the lead window, then the whole matrix
    * is |states|² rows. Probabilities are exact count ratios; entropy
    * addends snap to the 2⁻³⁰ dyadic grid before summing (the
    * [[Drift.jsVsRest]] posture) so the sum is order-insensitive.
    *
    * Output per (cur, nxt): (cur, nxt, n_transitions, p, cur_entropy).
    */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val byUser = Window
      .partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val trans = events
      .select(
        col("user_id"),
        col("event_id"),
        col("event_type").as("cur"),
        unix_micros(col("ts")).as("us"))
      .withColumn("nxt", lead(col("cur"), 1).over(byUser))
      .filter(col("nxt").isNotNull)
      .groupBy(col("cur"), col("nxt"))
      .agg(count(lit(1)).as("n_transitions"))
      // |states|² rows; consumed by the row totals and the final join
      .localCheckpoint()
    val totals = trans.groupBy(col("cur")).agg(sum(col("n_transitions")).as("n_cur"))
    val withP = trans
      .join(totals, Seq("cur"))
      .withColumn("p", col("n_transitions").cast("double") / col("n_cur").cast("double"))
    val entropy = withP
      .groupBy(col("cur"))
      .agg(
        round(-sum(floor(col("p") * log(col("p")) * Grid30 + 0.5) / Grid30), 6)
          .as("cur_entropy"))
    withP
      .join(entropy, Seq("cur"))
      .select(
        col("cur"),
        col("nxt"),
        col("n_transitions"),
        round(col("p"), 6).as("p"),
        col("cur_entropy"))
  }

  /** Sequential-pattern support (the PrefixSpan length-2 primitive):
    * for every ordered event-type pair (a → b), the number and share of
    * sessions containing a SUBSEQUENCE a..b — any gap allowed, order
    * required. A session contains a..b iff min_pos(a) < max_pos(b),
    * so support needs only each session's per-type (min_pos, max_pos)
    * — one sessionize pass + a session×type agg (alphabet-bounded
    * rows), then an alphabet² join on the tiny per-session profile.
    * Corpus cost: two user-keyed shuffles, never pos×pos pair work —
    * the trick that makes gap-tolerant sequence mining linear instead
    * of quadratic in session length.
    *
    * Output: (a, b, n_sessions_ab, n_sessions, support) for a ≠ b.
    */
  /** Sessionized event positions: (user_id, sess, event_type, pos)
    * with `pos` the 1-based rank inside the (user, session) — the
    * shared base of the subsequence-mining family.
    */
  private def sessionPositions(events: DataFrame, gapSec: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val lagUs = lag(col("us"), 1).over(byUser)
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn(
        "brk",
        when(lagUs.isNull || col("us") - lagUs > gapSec * 1000000L, 1).otherwise(0))
      .withColumn("sess", sum(col("brk")).over(byUser))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("user_id"), col("sess")).orderBy(col("us"), col("event_id"))))
      .select(col("user_id"), col("sess"), col("event_type"), col("pos"))
  }

  def subsequenceSupport(events: DataFrame, gapSec: Long = 1800): DataFrame = {
    val sess = sessionPositions(events, gapSec)
    // per-session per-type first/last position: alphabet-bounded profile
    val profile = sess
      .groupBy(col("user_id"), col("sess"), col("event_type"))
      .agg(min(col("pos")).as("first_pos"), max(col("pos")).as("last_pos"))
    val nSessions = profile
      .select(col("user_id"), col("sess")).distinct()
      .agg(count(lit(1)).as("n_sessions")) // one row, broadcast — no driver action
    val a = profile.select(
      col("user_id"), col("sess"), col("event_type").as("a"), col("first_pos"))
    val b = profile.select(
      col("user_id"), col("sess"), col("event_type").as("b"), col("last_pos"))
    a.join(b, Seq("user_id", "sess"))
      .filter(col("a") =!= col("b") && col("first_pos") < col("last_pos"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_sessions_ab"))
      .crossJoin(broadcast(nSessions))
      .withColumn(
        "support",
        round(col("n_sessions_ab").cast("double") / col("n_sessions").cast("double"), 6))
  }

  /** Three-step gap-tolerant sequence support (the PrefixSpan length-3
    * primitive): share of sessions containing a..b..c as a
    * SUBSEQUENCE. A session contains a..b..c iff SOME b-position lies
    * strictly between first_pos(a) and last_pos(c) — equivalently,
    * the SMALLEST b-position after first_pos(a) is before
    * last_pos(c). So beyond [[subsequenceSupport]]'s per-type
    * (min, max) profile, the only extra state is "earliest b after
    * a's first touch" per (session, a, b) — an alphabet²-bounded
    * aggregation over b-events, still linear in session length,
    * never positions×positions.
    *
    * Output: (a, b, c, n_sessions_abc, n_sessions, support) for
    * pairwise-distinct types.
    */
  def subsequenceSupport3(events: DataFrame, gapSec: Long = 1800): DataFrame = {
    val sess = sessionPositions(events, gapSec)
    val profile = sess
      .groupBy(col("user_id"), col("sess"), col("event_type"))
      .agg(min(col("pos")).as("first_pos"), max(col("pos")).as("last_pos"))
    val nSessions = profile
      .select(col("user_id"), col("sess")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
    // earliest b-position strictly after a's first position
    val bAfterA = sess
      .select(col("user_id"), col("sess"), col("event_type").as("b"), col("pos"))
      .join(
        profile.select(col("user_id"), col("sess"), col("event_type").as("a"),
          col("first_pos").as("fa")),
        Seq("user_id", "sess"))
      .filter(col("a") =!= col("b") && col("pos") > col("fa"))
      .groupBy(col("user_id"), col("sess"), col("a"), col("b"))
      .agg(min(col("pos")).as("b_after_a"))
    bAfterA
      .join(
        profile.select(col("user_id"), col("sess"), col("event_type").as("c"),
          col("last_pos").as("lc")),
        Seq("user_id", "sess"))
      .filter(col("c") =!= col("a") && col("c") =!= col("b") &&
        col("b_after_a") < col("lc"))
      .groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("n_sessions_abc"))
      .crossJoin(broadcast(nSessions))
      .withColumn(
        "support",
        round(col("n_sessions_abc").cast("double") / col("n_sessions").cast("double"), 6))
  }

  /** MARKOV NEXT-EVENT top-1 accuracy: train a first-order
    * next-event-type model on the first `splitDays` days (argmax
    * transition count per current type, ties to the lexicographically
    * smallest successor — a deterministic `row_number` argmax), then
    * score it on the remaining days' consecutive pairs. The temporal
    * split is the honest protocol — the model never sees eval-period
    * transitions — and the whole train→predict→score loop stays
    * relational: pairs from one per-user `lead` window, a model table
    * of |types|² rows, a broadcast join to score.
    *
    * Output per current type: (cur, predicted, n_eval, n_correct,
    * accuracy).
    */
  def nextEventAccuracy(events: DataFrame, splitDays: Int = 20): DataFrame = {
    val byUser = Window
      .partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val d0 = events.agg(min(to_date(col("ts"))).as("d0"))
    val pairs = events
      .select(
        col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), to_date(col("ts")).as("d"))
      .withColumn("nxt", lead(col("event_type"), 1).over(byUser))
      .filter(col("nxt").isNotNull)
      .crossJoin(broadcast(d0))
      .select(
        col("event_type").as("cur"), col("nxt"),
        (datediff(col("d"), col("d0")) < splitDays).as("is_train"))
    val model = pairs
      .filter(col("is_train"))
      .groupBy(col("cur"), col("nxt"))
      .agg(count(lit(1)).as("c"))
      .withColumn(
        "rk",
        row_number().over(
          Window.partitionBy(col("cur")).orderBy(col("c").desc, col("nxt").asc)))
      .filter(col("rk") === 1)
      .select(col("cur"), col("nxt").as("predicted"))
    pairs
      .filter(!col("is_train"))
      // hint-free: the rank-1 model is event-type-keyed (data-dependent)
      .join(model, Seq("cur"))
      .groupBy(col("cur"), col("predicted"))
      .agg(
        count(lit(1)).as("n_eval"),
        sum(when(col("nxt") === col("predicted"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn(
        "accuracy",
        round(col("n_correct").cast("double") / col("n_eval"), 6))
  }
}
