package graft.queries

import graft.queries.SqlFragments._

/** Round-55 additions (q582+): measurement-reliability panel — Cronbach's
  * alpha over the five event-type daily-count "items" (is the composite
  * daily activity score internally consistent enough to monitor as ONE
  * number), Fleiss' kappa across three deterministic document-quality
  * raters (do the cheap heuristics a curation pipeline stacks actually
  * agree beyond chance), and the Spearman–Brown split-half reliability
  * of the same composite (the classical halves-correlation route to the
  * same question alpha answers in expectation). House invariants as
  * Round13–54: shared dual-engine SQL, exact BIGINT moments (counts are
  * integers; every sum of squares rides n²-scaled integer numerators),
  * snapped doubles only at the final projection.
  */
object Round55 {

  // ---------------------------------------------------------------- q582

  /** Cronbach's alpha of the five event-type daily counts: items j =
    * event types, observations i = days (zero-filled over the corpus's
    * [min, max] day span), X_ij = count. With every item variance and
    * the total variance sharing the SAME n(n−1) denominator, the
    * variance RATIO is a ratio of exact BIGINT numerators
    * N_j = n·ΣX² − (ΣX)², so α = k/(k−1)·(1 − ΣN_j / N_tot) hits the
    * double unit exactly once. α > 0.7 is the conventional "monitor the
    * composite" bar — the panel's headline flag.
    */
  val q582Cronbach: QueryDef = QueryDef.sql("q582_cronbach", "r55_", "events")(cronbachSql)

  private def cronbachSql(d: Dialect): String = {
    val tbl = d.t("events")
    val us = d.epochUs("ts")
    // No zero-fill grid: days with no events contribute 0 to every Σx
    // and Σx², so the moments need only the day-SPAN nd as n — the
    // (days × types) product the guard would flag never materializes.
    s"""WITH e AS (SELECT ($us ${d.idiv} 86400000000) AS d, event_type FROM $tbl),
        cnt AS (SELECT d, event_type, CAST(count(*) AS BIGINT) AS y
                FROM e GROUP BY 1, 2),
        b AS (SELECT (max(d) - min(d) + 1) AS nd FROM e),
        item AS (SELECT event_type,
                        CAST(sum(y) AS BIGINT) AS sy,
                        CAST(sum(y * y) AS BIGINT) AS syy
                 FROM cnt GROUP BY 1),
        tot AS (SELECT d, CAST(sum(y) AS BIGINT) AS t FROM cnt GROUP BY 1),
        tm AS (SELECT CAST(sum(t) AS BIGINT) AS st,
                      CAST(sum(t * t) AS BIGINT) AS stt
               FROM tot),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
                       CAST(sum(b.nd * syy - sy * sy) AS BIGINT) AS item_num
                FROM item CROSS JOIN b),
        f AS (SELECT agg.k, b.nd AS n,
                     agg.item_num,
                     b.nd * tm.stt - tm.st * tm.st AS tot_num
              FROM agg CROSS JOIN tm CROSS JOIN b)
        SELECT CAST(k AS INT) AS k_items, n AS n_days,
               ${snap("CAST(item_num AS DOUBLE) / tot_num")} AS item_var_share,
               ${snap(
        "CAST(k AS DOUBLE) / (k - 1) * (1 - CAST(item_num AS DOUBLE) / tot_num)")}
                 AS alpha,
               CAST(CASE WHEN CAST(k AS DOUBLE) / (k - 1)
                              * (1 - CAST(item_num AS DOUBLE) / tot_num)
                              > CAST(0.7 AS DOUBLE)
                    THEN 1 ELSE 0 END AS INT) AS reliable_07
        FROM f"""
  }

  // ---------------------------------------------------------------- q583

  /** Fleiss' kappa across three deterministic document-quality raters —
    * char-length ≥ 200, word-count ≥ 40, and type-token ratio ≥ 1/2
    * (2·distinct ≥ tokens, an exact integer compare) — two categories
    * (pass/fail), n = 3 ratings per subject. With s = pass votes per
    * doc, per-doc agreement rides the integer s² + (3−s)² − 3 and the
    * chance agreement rides the integer vote total, so κ =
    * (P̄ − P_e)/(1 − P_e) is assembled from three exact BIGINTs. The
    * "do the cheap heuristics agree beyond chance" number — below ~0.4
    * the stacked filters are measuring different things and a curation
    * funnel multiplying them is incoherent.
    */
  val q583FleissKappa: QueryDef = QueryDef.sql("q583_fleiss_kappa", "r55_", "documents")(fleissSql)

  private def fleissSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val wc = d match {
      case _: Spark => "size(split(text, ' '))"
      case DuckDb => "len(string_split(text, ' '))"
    }
    val dc = d match {
      case _: Spark => "size(array_distinct(split(text, ' ')))"
      case DuckDb => "len(list_distinct(string_split(text, ' ')))"
    }
    s"""WITH r AS (SELECT doc_id,
                     CAST(CASE WHEN length(text) >= 200 THEN 1 ELSE 0 END AS BIGINT)
                       + CAST(CASE WHEN $wc >= 40 THEN 1 ELSE 0 END AS BIGINT)
                       + CAST(CASE WHEN 2 * $dc >= $wc THEN 1 ELSE 0 END AS BIGINT)
                       AS s
                   FROM $tbl),
        m AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(s) AS BIGINT) AS votes,
                     CAST(sum(s * s + (3 - s) * (3 - s) - 3) AS BIGINT) AS agree_num
              FROM r),
        f AS (SELECT n_docs, votes, agree_num,
                     CAST(agree_num AS DOUBLE) / (6 * n_docs) AS p_bar,
                     CAST(votes AS DOUBLE) / (3 * n_docs) AS p1
              FROM m)
        SELECT n_docs, CAST(3 AS INT) AS n_raters,
               ${snap("p1")} AS p_pass,
               ${snap("p_bar")} AS p_bar,
               ${snap("p1 * p1 + (1 - p1) * (1 - p1)")} AS p_e,
               ${snap(
        """(p_bar - (p1 * p1 + (1 - p1) * (1 - p1)))
           / (1 - (p1 * p1 + (1 - p1) * (1 - p1)))""")} AS kappa
        FROM f"""
  }

  // ---------------------------------------------------------------- q584

  /** Spearman–Brown split-half reliability of the daily activity
    * composite: the five event-type items split by alphabetical rank
    * (odd ranks → half A = click/purchase/view, even → half B =
    * error/signup), daily half-scores zero-filled, Pearson r across
    * days from exact BIGINT moments, stepped up by SB = 2r/(1+r). The
    * halves route to q582's question — the two should agree in sign
    * and rough size, and the PAIR (alpha, SB) is the diagnostic: SB ≫ α
    * means one deviant item, not an unreliable composite.
    */
  val q584SplitHalf: QueryDef = QueryDef.sql("q584_split_half", "r55_", "events")(splitHalfSql)

  private def splitHalfSql(d: Dialect): String = {
    val tbl = d.t("events")
    val us = d.epochUs("ts")
    val grid = s"SELECT ${d.closedRange("mn", "mx")} AS d FROM b"
    s"""WITH e AS (SELECT ($us ${d.idiv} 86400000000) AS d, event_type FROM $tbl),
        tr AS (SELECT event_type,
                      CAST(row_number() OVER (ORDER BY event_type) AS BIGINT) AS rk
               FROM (SELECT DISTINCT event_type FROM e) t),
        cnt AS (SELECT d, event_type, CAST(count(*) AS BIGINT) AS y
                FROM e GROUP BY 1, 2),
        b AS (SELECT min(d) AS mn, max(d) AS mx FROM e),
        days AS ($grid),
        hx AS (SELECT days.d,
                      CAST(coalesce(sum(CASE WHEN tr.rk % 2 = 1 THEN cnt.y END), 0)
                        AS BIGINT) AS a,
                      CAST(coalesce(sum(CASE WHEN tr.rk % 2 = 0 THEN cnt.y END), 0)
                        AS BIGINT) AS h
               FROM days
               LEFT JOIN cnt ON cnt.d = days.d
               LEFT JOIN tr ON tr.event_type = cnt.event_type
               GROUP BY 1),
        m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(a) AS BIGINT) AS sa,
                     CAST(sum(h) AS BIGINT) AS sb,
                     CAST(sum(a * a) AS BIGINT) AS saa,
                     CAST(sum(h * h) AS BIGINT) AS sbb,
                     CAST(sum(a * h) AS BIGINT) AS sab
              FROM hx),
        f AS (SELECT n,
                     CAST(n * sab - sa * sb AS DOUBLE)
                       / sqrt(CAST(n * saa - sa * sa AS DOUBLE))
                       / sqrt(CAST(n * sbb - sb * sb AS DOUBLE)) AS r
              FROM m)
        SELECT n AS n_days,
               ${snap("r")} AS r_halves,
               ${snap("2 * r / (1 + r)")} AS spearman_brown
        FROM f"""
  }

  val all: Seq[QueryDef] = Seq(q582Cronbach, q583FleissKappa, q584SplitHalf)
}
