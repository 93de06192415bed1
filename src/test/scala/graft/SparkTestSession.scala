package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed suites. */
object SparkTestSession {
  lazy val spark: SparkSession =
    SparkEntry.localSession(4, Some("graft-test"), "WARN")
      // the PRODUCTION wiring: optimizer rule + SQL kernel functions come
      // in through the extensions class, so every suite runs the same
      // session shape a cluster deployment configures
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // Static conf: must be set at session build (bucketed-table specs).
      .config(
        "spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString
      )
      .config(
        "javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${java.nio.file.Files.createTempDirectory("graft_metastore")}/db;create=true"
      )
      .getOrCreate()
}
