package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.floor

/** The catalogue's shared fixed-point, hash and tokenizer fragments — one
  * definition each. The SQL-text forms are emitted into BOTH the Spark
  * query and its DuckDB oracle, so they use only syntax the two engines
  * evaluate identically; the `Column`/`Double` forms are the same grid
  * for DataFrame pipelines and driver-side references.
  */
object SqlFragments {

  /** 2³⁰: the dyadic grid every emitted float snaps to. Addends on this
    * grid with small magnitude sum EXACTLY in IEEE doubles, so a snapped
    * sum is independent of summation order (and of engine).
    */
  val Grid30: Double = 1073741824.0

  /** floor(x·2³⁰ + ½)/2³⁰ — identical text in Spark SQL and DuckDB.
    *
    * The result is parenthesized so `${snap(...)}` composes safely inside
    * larger expressions (an unparenthesized `a / floor(...) / 2^30`
    * left-associates and silently divides twice). The grid constant is
    * CAST to DOUBLE: a bare `1073741824.0` parses as DECIMAL in Spark, and
    * `bigint / decimal` collapses to ~6-digit scale under composition
    * while DuckDB computes exact dyadic doubles.
    */
  def snap(x: String): String =
    s"(floor(($x) * CAST(1073741824 AS DOUBLE) + 0.5) / CAST(1073741824 AS DOUBLE))"

  /** [[snap]] as a DataFrame expression. */
  def snap(c: Column): Column = floor(c * Grid30 + 0.5) / Grid30

  /** [[snap]] on the driver. */
  def snapD(x: Double): Double = math.floor(x * Grid30 + 0.5) / Grid30

  /** 2²⁰ micro-unit quantizer: an exact BIGINT carrier for a per-row float,
    * so corpus-sized sums are integer adds in both engines.
    */
  def qi(x: String): String =
    s"CAST(floor(($x) * CAST(1048576 AS DOUBLE) + 0.5) AS BIGINT)"

  /** [[qi]] on the driver. */
  def qiL(x: Double): Long = math.floor(x * 1048576.0 + 0.5).toLong

  /** md5 → non-negative BIGINT from the digest's first 8 hex digits, in
    * each engine's dialect (Spark's `conv` returns STRING, so it is CAST;
    * DuckDB parses a `0x` literal).
    */
  def md5i(seed: String, d: Dialect): String = d match {
    case _: Spark => s"CAST(conv(substring(md5($seed), 1, 8), 16, 10) AS BIGINT)"
    case DuckDb => s"CAST(('0x' || substring(md5($seed), 1, 8)) AS BIGINT)"
  }

  /** Kept-token relation `(cols..., rnk, word)`: the catalogue's
    * lower/`[^a-z]+` tokenizer with `rnk` the 0-based rank of the word
    * among its document's NON-EMPTY tokens.
    *
    * Precondition: `doc_id` is one of `cols` and unique in `tbl`. Spark
    * numbers the tokens of each input ROW (posexplode over the
    * empty-filtered array: the oracle's `row_number() OVER (PARTITION BY
    * doc_id ORDER BY pos) - 1` without an Exchange + Sort + Window pass),
    * while the oracle numbers them per doc_id; the two agree only when a
    * doc_id names one row.
    */
  def rankTokens(tbl: String, d: Dialect, cols: String*): String = {
    require(cols.contains("doc_id"), "rankTokens partitions the oracle by doc_id")
    val c = cols.mkString(", ")
    d match {
      case _: Spark =>
        s"""SELECT $c, CAST(pos AS BIGINT) AS rnk, word
          FROM (SELECT $c,
                       posexplode(filter(split(lower(text), '[^a-z]+'),
                                         w -> w <> '')) AS (pos, word)
                FROM $tbl) x"""
      case DuckDb =>
        s"""SELECT $c,
                 CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1
                      AS BIGINT) AS rnk,
                 word
          FROM (SELECT $c,
                       CAST(unnest(generate_series(1, len(parts))) AS INT) - 1 AS pos,
                       unnest(parts) AS word
                FROM (SELECT $c,
                             string_split_regex(lower(text), '[^a-z]+') AS parts
                      FROM $tbl)) x
          WHERE word <> ''"""
    }
  }

  /** Kept-token relation `(cols..., pos, word)`: same tokenizer, but `pos`
    * is the RAW position in the split array — it counts split()'s boundary
    * empties, which are then dropped — so positions may skip.
    */
  def posTokens(tbl: String, d: Dialect, cols: String*): String = {
    val c = cols.mkString(", ")
    d match {
      case _: Spark =>
        s"""SELECT $c, pos, word
          FROM (SELECT $c,
                       posexplode(split(lower(text), '[^a-z]+')) AS (pos, word)
                FROM $tbl) x
          WHERE word <> ''"""
      case DuckDb =>
        s"""SELECT $c, pos, word
          FROM (SELECT $c,
                       CAST(unnest(generate_series(1, len(parts))) AS INT) - 1 AS pos,
                       unnest(parts) AS word
                FROM (SELECT $c,
                             string_split_regex(lower(text), '[^a-z]+') AS parts
                      FROM $tbl)) x
          WHERE word <> ''"""
    }
  }
}
