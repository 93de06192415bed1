package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** The one bounded-stream drain: run a streaming query over a bounded
  * source to completion and hand its output back as a batch table.
  */
object Drain {

  /** Drain `df` under `Trigger.AvailableNow` into a memory sink named
    * `<prefix>_<nanos>`, with `stateParts` state partitions (see
    * [[StreamingOps.withStatePartitions]]), and return the sink table.
    * Complete mode surfaces every aggregate group, open or closed; append
    * and update modes return the emitted rows.
    */
  def toMemory(
      spark: SparkSession,
      prefix: String,
      df: DataFrame,
      outputMode: String = "complete",
      stateParts: Int = 8): DataFrame = {
    val name = s"${prefix}_${System.nanoTime()}"
    StreamingOps.withStatePartitions(spark, stateParts) {
      val q = df.writeStream
        .outputMode(outputMode)
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
  }

  /** Run `body` with the RocksDB state-store provider, restoring the
    * session's provider afterwards.
    */
  def withRocksDb[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
