package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.queries.SqlFragments._
import graft.sources.Tables

/** Round-27 additions (q472+): multi-probe ANN — the probe-vs-tables
  * trade every LSH deployment at scale ends up making. q472 ships the
  * operator ([[graft.operators.Similarity.multiProbeTopKMd5]], Lv et
  * al. 2007 probe sequences, oracle-replayed END TO END including the
  * perturbation order); q473 measures it: recall@5 against exact brute
  * force for single-probe vs 3-probe on the SAME 4-table index.
  */
object Round27 {

  // ---------------------------------------------------------------- q472

  /** Multi-probe SRP-LSH top-5 for the q46 probe set: 4 tables × 6
    * planes, nprobe=3 (base bucket + the two least-confident single-bit
    * perturbations per table). Half of q31's 8 tables — the index is
    * half the size — with the recall made back through probes (q473
    * quantifies it). The oracle rebuilds planes, dots, signatures, the
    * |dot|-ordered perturbation sequence and the bucket join, then
    * exact-cosine reranks with the house tie-break.
    */
  val q472MultiprobeLsh: QueryDef = QueryDef(
    "q472_multiprobe_lsh",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.multiProbeTopKMd5(emb, emb.filter(col("vec_id") < 10), k = 5)
    },
    Some(s"""WITH ${AnnReplaySql.preambleSql},
            ${AnnReplaySql.multiProbeLshSql(tables = 4, planesPerTable = 6, nprobe = 3)},
            ${AnnReplaySql.rerankSql(5)}""")
  )

  // ---------------------------------------------------------------- q473

  /** Probe-vs-tables recall sheet: on the SAME 4-table md5-SRP index,
    * mean recall@5 against exact brute force for nprobe=1 (plain LSH)
    * and nprobe=3 (multi-probe) — the measured justification for q472's
    * design. Multi-probe's candidate set is a SUPERSET of single-probe's
    * (probe 1 of each table is the base bucket), so its recall can never
    * be lower — Round27PropertySpec asserts exactly that invariant.
    */
  val q473ProbeRecall: QueryDef = QueryDef(
    "q473_probe_recall",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probes = emb.filter(col("vec_id") < 10)
      val brute = Similarity.bruteTopK(emb, probes, k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint()
      def recallOf(df: org.apache.spark.sql.DataFrame, label: String) =
        brute.as("b")
          .join(
            df.select(col("query_id"), col("neighbor_id")).as("m"),
            col("b.query_id") === col("m.query_id") &&
              col("b.neighbor_id") === col("m.neighbor_id"),
            "left")
          .groupBy(col("b.query_id"))
          .agg((count(col("m.neighbor_id")) / 5.0).as("r"))
          .agg(
            count(lit(1)).cast("long").as("n_queries"),
            expr(snap("sum(r) / count(*)")).as("mean_recall5"))
          .select(lit(label).as("method"), col("n_queries"), col("mean_recall5"))
      val one = recallOf(
        Similarity.multiProbeTopKMd5(emb, probes, k = 5, nprobe = 1), "lsh_probe1")
      val three = recallOf(
        Similarity.multiProbeTopKMd5(emb, probes, k = 5, nprobe = 3), "lsh_probe3")
      one.unionByName(three).orderBy(col("method"))
    },
    Some {
      def arm(nprobe: Int, label: String) =
        s"""SELECT '$label' AS method,
                   CAST(count(*) AS BIGINT) AS n_queries,
                   ${snap("sum(r) / count(*)")} AS mean_recall5
            FROM (
              SELECT b.query_id,
                     CAST(count(m.neighbor_id) AS DOUBLE) / 5.0 AS r
              FROM brute b
              LEFT JOIN (
                WITH ${AnnReplaySql.multiProbeLshSql(4, 6, nprobe)},
                     ${AnnReplaySql.rerankSql(5)}) m
                ON m.query_id = b.query_id AND m.neighbor_id = b.neighbor_id
              GROUP BY 1) x"""
      s"""WITH ${AnnReplaySql.preambleSql},
          bcand AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM pts q JOIN pts c ON c.vec_id != q.vec_id
            WHERE q.vec_id < 10),
          bscored AS (
            SELECT cd.query_id, cd.neighbor_id,
                   round(${AnnReplaySql.dot64("q.v", "c.v")} /
                         (sqrt(${AnnReplaySql.dot64("q.v", "q.v")}) *
                          sqrt(${AnnReplaySql.dot64("c.v", "c.v")})), 6) AS cosine
            FROM bcand cd
            JOIN pts q ON q.vec_id = cd.query_id
            JOIN pts c ON c.vec_id = cd.neighbor_id),
          brute AS (
            SELECT query_id, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
              FROM bscored) WHERE rank <= 5)
          ${arm(1, "lsh_probe1")}
          UNION ALL
          ${arm(3, "lsh_probe3")}
          ORDER BY method"""
    }
  )

  val all: Seq[QueryDef] = Seq(q472MultiprobeLsh, q473ProbeRecall)
}
