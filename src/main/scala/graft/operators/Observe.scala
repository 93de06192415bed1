package graft.operators

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** Pipeline observability WITHOUT extra scans: named aggregate metrics
  * collected while the main action runs, via `Dataset.observe`.
  *
  * The scale rationale: the naive way to publish "rows written / nulls
  * seen / max event time" for a pipeline run is a second `agg()` pass —
  * at 100 TB that is a second read of the lake. Observed metrics are
  * accumulator-backed: they ride the SAME job as the action, cost one
  * row of merging per task, and arrive on the driver with the job's
  * completion event. (Same mechanism Structured Streaming exposes per
  * micro-batch through `StreamingQueryProgress.observedMetrics`.)
  *
  * Metric expressions must be accumulator-safe aggregates (count/sum/
  * min/max/avg over the observed rows — Spark rejects non-aggregates at
  * analysis time). Delivery is asynchronous: Spark completes the
  * [[Observation]]'s future after the job, and `withMetrics` waits for it
  * with a bound.
  */
object Observe {

  /** Run `action` on an observed copy of `df`; return its result plus the
    * metric row as name → value. Empty map only if the action ran no job
    * over `df` (nothing scanned → nothing observed) or delivery exceeded
    * `timeoutMs`.
    */
  def withMetrics[T](
      df: DataFrame,
      name: String,
      metrics: Seq[Column],
      timeoutMs: Long = 10000L
  )(action: DataFrame => T): (T, Map[String, Any]) = {
    require(metrics.nonEmpty, "at least one metric expression")
    val obs = Observation(name)
    val result = action(df.observe(obs, metrics.head, metrics.tail: _*))
    // Spark completes the future with an empty row when a job ran the plan
    // but collected no metrics for it.
    val row =
      try Await.result(obs.future, timeoutMs.millis)
      catch { case _: TimeoutException => Row.empty }
    (result, if (row.length == 0) Map.empty else row.getValuesMap[Any](row.schema.fieldNames.toSeq))
  }
}
