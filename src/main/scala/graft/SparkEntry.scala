package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.SimConfig
import graft.queries.{Extras, LlmQueries, QueryDef, Relational, Round10, Round11, Round12, Round13, Round14, Round15, Round16, Round17, Round18, Round19, Round20, Round21, Round22, Round23, Round24, Round25, Round26, Round27, Round28, Round29, Round30, Round31, Round32, Round33, Round34, Round35, Round36, Round37, Round38, Round39, Round40, Round41, Round42, Round43, Round44, Round45, Round46, Round47, Round48, Round49, Round50, Round51, Round52, Round53, Round54, Round55, Round56, Round57, Round58, Round59, Round60, Round61, Round62, Round63, Round64, Round65, Round66, Round67, Round68, Round4, Round5, Round6, Round7, Round8, Round9, SimQueries, Temporal}
import graft.sim.SimOperator
import graft.sources.EventRequests
import graft.stats.Statistics

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator-coverage surface the driver's DuckDB oracle
  * checks (CORRECTNESS gate); `oracleSql` carries the equivalent ANSI SQL
  * for every SQL-expressible query. Sim/stateful queries are rows-only by
  * design (SURVEY §2.2: the stateful core is the one non-SQL-expressible
  * operator).
  */
object SparkEntry {

  private def catalogue: Seq[QueryDef] =
    Relational.all ++ SimQueries.all ++ Temporal.all ++ LlmQueries.all ++ Extras.all ++
      Round4.all ++ Round5.all ++ Round6.all ++ Round7.all ++ Round8.all ++ Round9.all ++
      Round10.all ++ Round11.all ++ Round12.all ++ Round13.all ++ Round14.all ++ Round15.all ++
      Round16.all ++ Round17.all ++ Round18.all ++ Round19.all ++ Round20.all ++ Round21.all ++
      Round22.all ++ Round23.all ++ Round24.all ++ Round25.all ++ Round26.all ++ Round27.all ++ Round28.all ++ Round29.all ++ Round30.all ++ Round31.all ++ Round32.all ++ Round33.all ++ Round34.all ++ Round35.all ++ Round36.all ++ Round37.all ++ Round38.all ++ Round39.all ++ Round40.all ++ Round41.all ++ Round42.all ++ Round43.all ++ Round44.all ++ Round45.all ++ Round46.all ++ Round47.all ++ Round48.all ++ Round49.all ++ Round50.all ++ Round51.all ++ Round52.all ++ Round53.all ++ Round54.all ++ Round55.all ++ Round56.all ++ Round57.all ++ Round58.all ++ Round59.all ++ Round60.all ++ Round61.all ++ Round62.all ++ Round63.all ++ Round64.all ++ Round65.all ++ Round66.all ++ Round67.all ++ Round68.all

  /** Flagship: full reference pipeline on the lake — events → typed
    * requests → discrete-event simulation (4 workers, priority queue) →
    * one-row statistics summary (reference: main.py:16-159 end-to-end).
    */
  def entry(spark: SparkSession): DataFrame = {
    val reqs = EventRequests.requests(spark, "/root/testdata/sf0.001")
    val completed = SimOperator.simulate(reqs, SimConfig(numWorkers = 4))
    Statistics.summary(Statistics.toDF(completed))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalogue.map(q => q.name -> q.fn).toMap

  /** The local-session recipe of every entry point: `local[cores]` with
    * one shuffle partition per core, UTC session time, no UI and the given
    * log level. Without an `appName`, Spark names the application itself.
    * Callers add their own settings to the builder before `getOrCreate()`.
    */
  def localSession(cores: Int, appName: Option[String], logLevel: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", logLevel)
    appName.fold(b)(b.appName)
  }

  /** The catalogue in name order, cut to the comma-separated names in
    * `SPARK_GRAFT_ONLY` when that is set. A name the catalogue does not
    * have exits 2, naming it, before any query runs.
    */
  def selectedQueries(): Seq[(String, (SparkSession, String) => DataFrame)] =
    select(sys.env.get("SPARK_GRAFT_ONLY")) match {
      case Right(qs) => qs
      case Left(unknown) =>
        System.err.println(s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
        sys.exit(2)
    }

  /** [[selectedQueries]] for the list `only`: the selection, or the names
    * that are not in the catalogue.
    */
  private[graft] def select(
      only: Option[String]
  ): Either[Seq[String], Seq[(String, (SparkSession, String) => DataFrame)]] = {
    val all = queries.toSeq.sortBy(_._1)
    only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet) match {
      case None => Right(all)
      case Some(names) =>
        val unknown = (names -- all.map(_._1)).toSeq.sorted
        if (unknown.nonEmpty) Left(unknown) else Right(all.filter(q => names(q._1)))
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    catalogue.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
