package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Wraps calls into the program's layers. The untraced benchmark uses
  * [[NoTrace]], so the timed path runs the same calls without bookkeeping.
  */
trait Tracer {
  def span[T](name: String)(body: => T): T
}

object NoTrace extends Tracer {
  def span[T](name: String)(body: => T): T = body
}

/** A finished span: times are `System.nanoTime` values; `parent` is -1 for a
  * root.
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
  /** The layer is the name's first dot-separated component. */
  def layer: String = name.takeWhile(_ != '.')
}

/** Task metrics the listener attributed to one span. */
final class TaskAgg {
  var tasks = 0L
  var busyMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
}

/** In-memory span recorder. Entering a span sets the Spark job group to the
  * span's id, so [[SpanListener]] can attribute every task of the jobs the
  * call starts to the innermost open span.
  */
final class SpanTracer(sc: SparkContext) extends Tracer {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Long)] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.fold(-1)(_._1)
    open = (id, name, System.nanoTime()) :: open
    sc.setJobGroup(SpanTracer.groupOf(id), name)
    try body
    finally {
      val start = open.head._3
      open = open.tail
      done += Span(id, name, parent, start, System.nanoTime())
      open.headOption match {
        case Some((pid, pname, _)) => sc.setJobGroup(SpanTracer.groupOf(pid), pname)
        case None                  => sc.clearJobGroup()
      }
    }
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq
}

object SpanTracer {
  val GroupPrefix = "perfbench-span-"
  def groupOf(id: Int): String = GroupPrefix + id

  /** Duration minus the part of the span's interval its children cover. */
  def selfNs(s: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent == s.id)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    s.durNs - covered
  }
}

/** Attributes finished tasks to spans through the job group of the job that
  * ran them.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val aggs = mutable.HashMap.empty[Int, TaskAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanListener.JobGroupKey)))
      .filter(_.startsWith(SpanTracer.GroupPrefix))
      .foreach { g =>
        val id = g.stripPrefix(SpanTracer.GroupPrefix).toInt
        e.stageIds.foreach(stageSpan(_) = id)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { id =>
      val a = aggs.getOrElseUpdate(id, new TaskAgg)
      a.tasks += 1
      a.busyMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.gcMs += m.jvmGCTime
      }
    }
  }

  /** Aggregates per span id; call after the listener bus has drained. */
  def snapshot(): Map[Int, TaskAgg] = synchronized(aggs.toMap)
}

object SpanListener {
  /** The local property `SparkContext.setJobGroup` writes. */
  val JobGroupKey = "spark.jobGroup.id"
}
