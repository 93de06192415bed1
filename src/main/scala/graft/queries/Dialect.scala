package graft.queries

import org.apache.spark.sql.SparkSession

import graft.sources.Tables

/** The SQL dialect a catalogue builder emits: Spark SQL over round-prefixed
  * temp views, or DuckDB over the bare lake tables (the correctness
  * oracle). Every engine form the catalogue uses in more than one file is
  * a member here; a form only one query needs stays in that query as a
  * `match` on the dialect.
  */
sealed trait Dialect {

  /** The name a query reads lake table `name` under. */
  def t(name: String): String

  /** Integer division operator: Spark `div`, DuckDB `//`. */
  def idiv: String

  /** Microseconds since the epoch of a TIMESTAMP expression. */
  def epochUs(ts: String): String

  /** [[epochUs]] of a TIMESTAMP_NTZ lake column (`o_orderdate`,
    * `l_shipdate`): Spark casts it to TIMESTAMP first, which the UTC
    * session makes lossless.
    */
  def dateUs(col: String): String

  /** The DATE of a TIMESTAMP expression. */
  def toDate(ts: String): String

  /** Whole days from DATE `from` to DATE `to`. */
  def dayDiff(from: String, to: String): String

  /** The string column type name. */
  def str: String

  /** CTE modifier that forces DuckDB to evaluate a CTE once; Spark needs
    * none. Emitted before `(`: `WITH x AS ${materialized}(...)`.
    */
  def materialized: String

  /** One row per integer in `lo..hi`, BOTH ends included (DuckDB's `range`
    * excludes its upper bound, hence the `+ 1`).
    */
  def closedRange(lo: String, hi: String): String

  /** [[closedRange]] over constant bounds. */
  def closedRange(lo: Int, hi: Int): String

  /** One row per element of a constant list written `a, b, c`. */
  def list(items: String): String

  /** `SELECT CAST(v AS typ) AS alias` (bare `v` when `typ` is empty) for
    * each value `v` of generator `gen` ([[list]], [[closedRange]]). Spark
    * allows no generator inside an expression, so it projects a subquery
    * that names the generated column `inner`.
    */
  def selectGen(gen: String, typ: String, alias: String, inner: String): String

  /** `SELECT * FROM` the constant rows `(a), (b)` named `alias`, e.g.
    * `t(col)`.
    */
  def values(rows: String, alias: String): String

  /** One row `(cols..., dim, v)` per coordinate of each `embedding` in
    * `tbl`: `dim` is the coordinate's index counted from `base`, `v` its
    * value as DOUBLE.
    */
  def embeddingCells(tbl: String, cols: String, base: Int): String

  /** One row per `[^a-z]+`-separated token of the lower-cased `text`
    * column, empty tokens included.
    */
  def words: String

  /** `words` joined by single spaces in ascending `key` order. */
  def stringAgg(words: String, key: String): String

  /** Number of matches of regex `pattern` in `text`, as BIGINT. */
  def regexCount(text: String, pattern: String): String

  /** The regex whitespace class `\s` inside a SQL string literal: Spark
    * unescapes backslashes in literals, DuckDB keeps them.
    */
  def ws: String

  /** The catalogue tokenizer's word count: `[a-z]+` runs of the
    * lower-cased `text` column.
    */
  final def wordCount: String = regexCount("lower(text)", "[a-z]+")

  protected def cast(v: String, typ: String): String =
    if (typ.isEmpty) v else s"CAST($v AS $typ)"
}

/** Spark SQL, reading lake table `x` as the temp view `viewPrefix + x`. */
final case class Spark(viewPrefix: String) extends Dialect {
  def t(name: String): String = viewPrefix + name
  def idiv: String = "div"
  def epochUs(ts: String): String = s"unix_micros($ts)"
  def dateUs(col: String): String = s"unix_micros(CAST($col AS TIMESTAMP))"
  def toDate(ts: String): String = s"to_date($ts)"
  def dayDiff(from: String, to: String): String = s"datediff($to, $from)"
  def str: String = "STRING"
  def materialized: String = ""
  def closedRange(lo: String, hi: String): String = s"explode(sequence($lo, $hi))"
  def closedRange(lo: Int, hi: Int): String = s"explode(sequence($lo, $hi))"
  def list(items: String): String = s"explode(array($items))"
  def selectGen(gen: String, typ: String, alias: String, inner: String): String =
    s"SELECT ${cast(inner, typ)} AS $alias FROM (SELECT $gen AS $inner)"
  def values(rows: String, alias: String): String = s"SELECT * FROM VALUES $rows AS $alias"
  def words: String = "explode(split(lower(text), '[^a-z]+'))"
  def embeddingCells(tbl: String, cols: String, base: Int): String = {
    val dim = if (base == 0) "pos" else s"pos + $base"
    s"""SELECT $cols, $dim AS dim, CAST(col AS DOUBLE) AS v
            FROM (SELECT $cols,
                         posexplode(transform(embedding, x -> CAST(x AS DOUBLE)))
                  FROM $tbl)"""
  }
  def stringAgg(words: String, key: String): String =
    s"array_join(transform(array_sort(array_agg(struct($key, $words))), t -> t.$words), ' ')"
  def regexCount(text: String, pattern: String): String =
    s"CAST(regexp_count($text, '$pattern') AS BIGINT)"
  def ws: String = "\\\\s"

  /** Registers each lake table `x` as the temp view [[t]]`(x)`. */
  def register(s: SparkSession, dir: String, tables: String*): Unit =
    tables.foreach(x => Tables.table(s, dir, x).createOrReplaceTempView(t(x)))
}

/** DuckDB over the lake tables under their own names. */
case object DuckDb extends Dialect {
  def t(name: String): String = name
  def idiv: String = "//"
  def epochUs(ts: String): String = s"epoch_us($ts)"
  def dateUs(col: String): String = s"epoch_us($col)"
  def toDate(ts: String): String = s"CAST($ts AS DATE)"
  def dayDiff(from: String, to: String): String = s"date_diff('day', $from, $to)"
  def str: String = "VARCHAR"
  def materialized: String = "MATERIALIZED "
  def closedRange(lo: String, hi: String): String = s"unnest(range($lo, $hi + 1))"
  def closedRange(lo: Int, hi: Int): String = s"unnest(range($lo, ${hi + 1}))"
  def list(items: String): String = s"unnest([$items])"
  def selectGen(gen: String, typ: String, alias: String, inner: String): String =
    s"SELECT ${cast(gen, typ)} AS $alias"
  def values(rows: String, alias: String): String = s"SELECT * FROM (VALUES $rows) AS $alias"
  def words: String = "unnest(string_split_regex(lower(text), '[^a-z]+'))"
  def embeddingCells(tbl: String, cols: String, base: Int): String = {
    val dim = if (base == 1) "" else s" - ${1 - base}"
    s"""SELECT $cols, generate_subscripts(embedding, 1)$dim AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM $tbl"""
  }
  def stringAgg(words: String, key: String): String =
    s"string_agg($words, ' ' ORDER BY $key)"
  def regexCount(text: String, pattern: String): String =
    s"CAST(len(regexp_extract_all($text, '$pattern')) AS BIGINT)"
  def ws: String = "\\s"
}
