package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.{MinHashSignature, TokenShingleHashes}
import graft.operators.Dedup

/** Incremental MinHash-LSH near-dup detection over a document STREAM —
  * the continuously-ingesting shape of the batch q26 pipeline.
  *
  * Per micro-batch: signatures and band hashes are computed row-locally
  * (the same [[TokenShingleHashes]]/[[MinHashSignature]] kernels as the
  * batch path — no shuffle before the bucket exchange), then each
  * (band_id, band_sig) bucket's member list lives in GroupState. A new
  * document emits a candidate pair against every member already in its
  * bucket — including earlier micro-batches' — so near-dups are detected
  * incrementally, the moment the second copy arrives, without
  * recomparing the corpus.
  *
  * Candidates are exact-verified by a stream-static join against the
  * corpus shingle relation (append mode allows stream-static inner
  * joins), so the surviving pairs carry the TRUE Jaccard. On a bounded
  * replay the result equals the batch [[Dedup.minhashPairs]] exactly —
  * asserted in StreamingNearDupSpec.
  *
  * Scale notes: bucket state holds only doc ids (~8 bytes per doc per
  * band), not shingles — the heavy verification payload stays in the
  * lake and is fetched by the candidate join. Production deployments
  * bound state with `GroupStateTimeout`/TTL per the dedup horizon; the
  * bounded-replay form keeps NoTimeout so the batch-equality contract is
  * exact.
  */
/** Per-bucket GroupState payload: ids of every document seen in this
  * (band, signature) bucket so far. Public top-level for encoder codegen.
  */
case class BucketState(docIds: Array[Long])

object StreamingNearDup {

  implicit private val stateEnc: Encoder[BucketState] = Encoders.product[BucketState]
  implicit private val keyEnc: Encoder[(Int, Long)] = Encoders.product[(Int, Long)]
  implicit private val rowEnc: Encoder[(Int, Long, Long)] =
    Encoders.product[(Int, Long, Long)]
  implicit private val pairEnc: Encoder[(Long, Long)] = Encoders.product[(Long, Long)]

  /** New candidate pairs for one bucket: each arriving doc against every
    * doc already seen in the bucket (previous batches via state, this
    * batch via the accumulating list). Ids are emitted (min, max) so the
    * cross-bucket dedupe is a plain distinct.
    */
  private def bucketPairs(
      key: (Int, Long),
      rows: Iterator[(Int, Long, Long)],
      state: GroupState[BucketState]
  ): Iterator[(Long, Long)] = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    state.getOption.foreach(s => seen ++= s.docIds)
    val out = Vector.newBuilder[(Long, Long)]
    rows.foreach { case (_, _, docId) =>
      seen.foreach { prev =>
        if (prev != docId)
          out += (if (prev < docId) (prev, docId) else (docId, prev))
      }
      seen += docId
    }
    state.update(BucketState(seen.toArray))
    out.result().iterator
  }

  /** Candidate pair stream: band the incoming documents row-locally, keep
    * per-bucket membership in GroupState, emit new same-bucket pairs.
    */
  def candidatePairs(
      docs: DataFrame,
      n: Int = 3,
      numPerm: Int = 64,
      bands: Int = 16
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val shFn = s"token_shingle_hashes_$n"
    val sigFn = s"minhash_sig_$numPerm"
    TokenShingleHashes.register(spark, shFn, n)
    MinHashSignature.register(spark, sigFn, numPerm, seed = 42L)
    val banded = Dedup
      .bandsFromSig(
        docs
          .select(col("doc_id"), expr(s"$shFn(text)").as("shingles"))
          .filter(size(col("shingles")) > 0)
          .select(col("doc_id"), expr(s"$sigFn(shingles)").as("sig")),
        numPerm,
        bands
      )
      .select(col("band_id").cast("int"), col("band_sig"), col("doc_id"))
      .as[(Int, Long, Long)]
    banded
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(bucketPairs)
      .toDF("doc_a", "doc_b")
  }

  /** Full incremental pipeline: stateful candidates → cross-bucket dedupe
    * → exact-Jaccard verification against the static corpus shingles.
    */
  def run(
      spark: SparkSession,
      sfDir: String,
      n: Int = 3,
      numPerm: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      stateParts: Int = 8
  ): DataFrame = {
    val stream = StreamingOps.documentsStream(spark, sfDir)
    // NOTE: no streaming dropDuplicates here — flatMapGroupsWithState
    // cannot be followed by a second stateful operator, and the
    // stream-static verification below is stateless. A pair colliding in
    // several bands is verified once per band and deduplicated in the
    // (tiny) surviving set after the drain.
    val cands = candidatePairs(stream, n, numPerm, bands)
    // Static side: the corpus shingle relation the candidates verify
    // against (in production, the lake table the stream is ingesting into).
    // localCheckpoint: a stream-static join re-executes the static plan
    // EVERY micro-batch, and this one is joined on both sides — without
    // materialization the corpus is re-shingled 2× per batch. Checkpoint
    // (not cache) so the blocks are GC-cleaned when the query ends
    // instead of living in the session cache forever.
    val sh = Dedup
      .hashedTokenShingles(graft.sources.Tables.documents(spark, sfDir), n)
      .localCheckpoint()
    val verified = cands
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .select(
        col("doc_a"),
        col("doc_b"),
        round(
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))),
          6
        ).as("jaccard")
      )
      .filter(col("jaccard") >= threshold)
    val drained = Drain.toMemory(spark, "stream_neardup", verified, "append", stateParts)
    // The memory sink holds the drained rows; the shingle cache is done.
    sh.unpersist()
    drained.distinct()
  }
}
