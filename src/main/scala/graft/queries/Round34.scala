package graft.queries

import org.apache.spark.sql.functions._

import graft.queries.SqlFragments._
import graft.sources.{BucketedTables, Tables}

/** Round-34 additions (q490+): storage-layout and curation-planning
  * audits — a co-located bucketed sort-merge join (the shuffle paid
  * once at write time, amortized over every later join: ZERO exchanges
  * on the join key, plan-pinned in Round34PropertySpec), and the
  * quality-pruning retention curve (what top-q% curation keeps, in
  * tokens and in trigram diversity — the DataComp-style pruning
  * planning sheet). House invariants as Round13-33.
  */
object Round34 {

  // ---------------------------------------------------------------- q490

  /** Co-located fact-to-dim SMB join: orders and customer both written
    * as catalog tables bucketed+sorted on the customer key (16
    * buckets), then merge-joined — the planner sees matching bucket
    * specs and schedules bucket-i-to-bucket-i merges with NO exchange
    * on either join side (the only shuffle left is the 25-nation
    * rollup). This is the 100 TB fact-join shape: at lake scale neither
    * side broadcasts, and re-shuffling the fact table per query is the
    * bottleneck bucketing exists to delete; the merge HINT pins the
    * SMB path so the demo doesn't silently degrade to a broadcast at
    * toy scale. Results are layout-invariant (the oracle is the plain
    * join); the zero-exchange plan shape is pinned in
    * Round34PropertySpec.
    */
  val q490BucketSmbJoin: QueryDef = QueryDef(
    "q490_bucket_smb_join",
    (s, dir) => { bucketSmbJoined(s, dir) },
    Some("""SELECT c_nationkey,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                     AS total_cents
            FROM orders JOIN customer ON c_custkey = o_custkey
            GROUP BY 1
            ORDER BY 1""")
  )

  /** Build (or rebuild) the bucketed tables and return the joined
    * rollup — shared with the plan-shape spec.
    */
  def bucketSmbJoined(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val p1 = java.nio.file.Files
      .createTempDirectory("graft_q490").resolve("orders_b").toString
    val p2 = java.nio.file.Files
      .createTempDirectory("graft_q490").resolve("customer_b").toString
    BucketedTables.writeBucketed(
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      "r34_orders_b", p1, "o_custkey", numBuckets = 16)
    BucketedTables.writeBucketed(
      Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
      "r34_customer_b", p2, "c_custkey", numBuckets = 16)
    BucketedTables.table(s, "r34_orders_b")
      .join(BucketedTables.table(s, "r34_customer_b").hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("total_cents"))
      .orderBy(col("c_nationkey"))
  }

  // ---------------------------------------------------------------- q491

  /** Quality-pruning retention curve: docs ranked by lexical richness
    * (distinct-word count desc, doc_id tiebreak — the global rank is
    * the Packing-pattern distributed construction: bucket by the score
    * itself, tiny offset window over the per-score counts, KEYED
    * within-score row_number — never a corpus-wide single-partition
    * window); for retention q ∈ {25, 50, 75, 100}% the kept slice's
    * docs, tokens, distinct trigram types (via each trigram's
    * FIRST-KEPT rank — one gram-keyed min, no per-q rescan) and the
    * types-per-token diversity. The pruning planning sheet: how much
    * diversity does each quality quartile actually buy.
    */
  val q491PruningCurve: QueryDef =
    QueryDef.sql("q491_pruning_curve", "r34_", "documents")(pruningSql)

  private def pruningSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val words = s"SELECT doc_id, ${d.words} AS word FROM $tbl"
    // trigrams over the CLEANED (empty-free) word array; short docs
    // yield no windows (Spark's sequence(1, 0) DESCENDS — guard it)
    val grams = d match {
      case _: Spark =>
        s"""SELECT doc_id, explode(CASE WHEN size(wc) >= 3
              THEN transform(sequence(1, size(wc) - 2),
                             i -> concat_ws(' ', slice(wc, i, 3)))
              ELSE CAST(array() AS ARRAY<STRING>) END) AS g
            FROM (SELECT doc_id,
                         filter(split(lower(text), '[^a-z]+'), x -> x <> '') AS wc
                  FROM $tbl)"""
      case DuckDb =>
        s"""SELECT doc_id, unnest([array_to_string(wc[i:i+2], ' ')
                                   FOR i IN range(1, greatest(len(wc) - 1, 1))]) AS g
            FROM (SELECT doc_id,
                         list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                     x -> x <> '') AS wc
                  FROM $tbl)"""
    }
    val qs = d.selectGen(d.list("25, 50, 75, 100"), "BIGINT", "q", "qq")
    s"""WITH w AS (SELECT doc_id, word FROM ($words) x WHERE word <> ''),
        sc AS (
          SELECT d.doc_id,
                 CAST(coalesce(t.s, 0) AS BIGINT) AS s,
                 CAST(coalesce(t.toks, 0) AS BIGINT) AS toks
          FROM $tbl d
          LEFT JOIN (SELECT doc_id, CAST(count(DISTINCT word) AS BIGINT) AS s,
                            CAST(count(*) AS BIGINT) AS toks
                     FROM w GROUP BY 1) t ON t.doc_id = d.doc_id),
        bo AS (SELECT s, CAST(count(*) AS BIGINT) AS c FROM sc GROUP BY 1),
        boff AS (
          SELECT s, CAST(coalesce(sum(c) OVER (ORDER BY s DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
          FROM bo),
        rk AS (
          SELECT sc.doc_id, sc.toks,
                 boff.off + CAST(row_number() OVER (
                   PARTITION BY sc.s ORDER BY sc.doc_id) AS BIGINT) AS rnk
          FROM sc JOIN boff ON boff.s = sc.s),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rk),
        qs AS ($qs),
        thresholds AS (
          SELECT q, CAST((q * n.n + 99) ${d.idiv} 100 AS BIGINT)
                      AS r_max
          FROM qs CROSS JOIN n),
        gmin AS (
          SELECT x.g, CAST(min(rk.rnk) AS BIGINT) AS rmin
          FROM ($grams) x JOIN rk ON rk.doc_id = x.doc_id
          GROUP BY 1),
        kept AS (
          SELECT t.q,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(rk.toks) AS BIGINT) AS n_tokens,
                 CAST(sum(greatest(rk.toks - 2, 0)) AS BIGINT) AS n_grams
          FROM rk CROSS JOIN thresholds t
          WHERE rk.rnk <= t.r_max
          GROUP BY 1),
        dist AS (
          SELECT t.q, CAST(count(*) AS BIGINT) AS n_gram_types
          FROM gmin CROSS JOIN thresholds t
          WHERE gmin.rmin <= t.r_max
          GROUP BY 1)
        SELECT k.q, k.n_docs, k.n_tokens, d.n_gram_types,
               ${snap("CAST(d.n_gram_types AS DOUBLE) / k.n_grams")} AS gram_diversity
        FROM kept k JOIN dist d ON d.q = k.q
        ORDER BY k.q"""
  }

  val all: Seq[QueryDef] = Seq(q490BucketSmbJoin, q491PruningCurve)
}
