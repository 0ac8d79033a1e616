package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed span: a layer boundary crossed by the benchmark thread.
  * Times are `System.nanoTime` for durations plus wall-clock
  * milliseconds, which is what Spark's planning tracker reports and so
  * what query executions are matched against.
  */
final case class Span(id: Long, name: String, layer: String, parent: Long,
    op: Long, startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span by the listener pair. */
final class Counts {
  var jobs, tasks, failedTasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var shuffleWriteBytes, inputBytes, inputRecords, spillBytes = 0L
  var catalystMs = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; inputBytes += o.inputBytes
    inputRecords += o.inputRecords; spillBytes += o.spillBytes
    catalystMs += o.catalystMs
  }
}

/** In-memory span store for the benchmark's single client thread.
  *
  * While enabled, `span` records a [[Span]] around its body and stores
  * the span id in the SparkContext local property [[Tracer.Key]], so
  * every job the body submits carries it; the [[Listener]] attributes
  * job, stage and task metrics through that property. Disabled, `span`
  * is a plain call, so untraced runs pay nothing for it.
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  /** Operation id stamped on spans opened from now on. */
  var op = 0L

  private var nextId = 1L
  private val open = mutable.Stack.empty[(Long, String, String, Long, Long)]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = new ConcurrentHashMap[Long, Counts]()
  private val queries = new ConcurrentLinkedQueue[(Long, Long)]() // (start ms, catalyst ms)

  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0L)
      open.push((id, name, layer, System.nanoTime(), System.currentTimeMillis()))
      sc.setLocalProperty(Tracer.Key, id.toString)
      try body
      finally {
        val (_, _, _, startNs, startMs) = open.pop()
        spans += Span(id, name, layer, parent, op, startNs, System.nanoTime(),
          startMs, System.currentTimeMillis())
        sc.setLocalProperty(Tracer.Key,
          open.headOption.map(_._1.toString).orNull)
      }
    }

  private[perfbench] def countsFor(spanId: Long): Counts =
    counts.computeIfAbsent(spanId, _ => new Counts)

  private[perfbench] def recordQuery(startMs: Long, catalystMs: Long): Unit = {
    val _ = queries.add((startMs, catalystMs))
  }

  /** Spark work per span id, after the listener bus has drained.
    * Query executions are matched to the innermost span whose wall
    * interval contains their first planning phase: the benchmark thread
    * is the only one issuing queries, so containment is attribution.
    */
  def attributed(): Map[Long, Counts] = {
    val byStart = spans.sortBy(s => (s.startMs, -s.endMs))
    var q = queries.poll()
    while (q != null) {
      val (start, ms) = q
      val inner = byStart.filter(s => s.startMs <= start && start <= s.endMs)
        .lastOption.map(_.id).getOrElse(0L)
      countsFor(inner).catalystMs += ms
      q = queries.poll()
    }
    counts.asScala.toMap
  }
}

object Tracer {
  val Key = "perfbench.span"

  /** Self time per span: its duration minus the time its children
    * cover. Children of one span never overlap (one client thread).
    */
  def selfSeconds(spans: Seq[Span]): Map[Long, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - childTime.getOrElse(s.id, 0.0))).toMap
  }
}

/** The listener pair: a SparkListener for jobs and task metrics and a
  * QueryExecutionListener for Catalyst planning time. Both run on
  * Spark's listener-bus threads and only append to the tracer.
  */
final class Listener(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    tracer.countsFor(span).synchronized { tracer.countsFor(span).jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = tracer.countsFor(stageSpan.getOrDefault(e.stageId, 0L))
    c.synchronized {
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      tracer.recordQuery(phases.map(_.startTimeMs).min,
        phases.map(p => p.endTimeMs - p.startTimeMs).sum)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}
