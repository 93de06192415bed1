package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet lake (/root/repo/TESTDATA.md).
  *
  * Plain `spark.read.parquet` — Catalyst handles predicate pushdown, column
  * pruning and (on a real lake) partition pruning for free; at 100 TB these
  * would be partitioned directories behind the same call sites, so every
  * query in the engine goes through this one seam.
  */
object Tables {

  /** Lake table `name`; `"events"` comes back with its `ts` normalized as
    * in [[events]].
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir) else read(spark, sfDir, name)

  private def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")

  /** `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects outright; the supported path is the legacy
    * nanos-as-long read, converted here back to a µs TimestampType column
    * (integer `div` — a double division would lose precision above 2^53 ns).
    * The TESTDATA generator emits µs-grain values, so the ns→µs floor is
    * lossless and DuckDB-oracle-compatible.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) infers as NTZ;
        // the engine standardizes on TimestampType in a UTC session, so
        // this cast is a type relabel with identical micros underneath
        raw.withColumn("ts",
          raw.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
