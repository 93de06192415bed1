package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Drive the `graft-gen` connector's micro-batch face
  * ([[graft.sources.v2.GenMicroBatchStream]]): a complete-mode category
  * aggregation drained under Trigger.AvailableNow, where the source's
  * admission control (maxRows per batch) forces a REAL multi-batch drain
  * — the offset log advances rowsPerBatch ids at a time, so the final
  * state is accumulated across ⌈rows/rowsPerBatch⌉ micro-batches, not
  * replayed in one.
  */
object GenStream {

  /** Returns (drained per-category aggregate, #micro-batches with input). */
  def drainCategoryAgg(
      spark: SparkSession,
      rows: Long,
      rowsPerBatch: Long,
      seed: Long = 42L): (DataFrame, Int) = {
    val stream = spark.readStream
      .format("graft-gen")
      .option("rows", rows)
      .option("rowsPerBatch", rowsPerBatch)
      .option("seed", seed)
      .load()
    val agg = stream
      .groupBy(col("category"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value")).as("total_value"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"))
    val name = s"gen_stream_${System.nanoTime()}"
    var batches = 0
    // Not Drain.toMemory: the batch count is read off the live query's progress.
    StreamingOps.withStatePartitions(spark) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      try {
        q.processAllAvailable()
        batches = q.recentProgress.count(_.numInputRows > 0)
      } finally q.stop()
    }
    (spark.table(name), batches)
  }
}
