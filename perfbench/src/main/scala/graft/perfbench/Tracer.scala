package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** What the engine did for one layer: jobs and tasks it ran, executor time
  * and bytes, files its scans listed, and Catalyst planning time. */
final class Counters {
  var jobs, tasks, runMs, cpuNs, gcMs, inputBytes, inputRecords = 0L
  var shuffleWriteBytes, spillBytes, filesRead, planMs = 0L
  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    filesRead += o.filesRead; planMs += o.planMs
  }
}

/** One timed call into a layer. Spans of one operation share `op`. */
final case class Span(id: Int, parent: Int, op: Int, layer: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the harness's calls into each layer, plus a listener that
  * attributes every job, task and scan to the layer whose job group was set
  * when it started. Planning time arrives with a query's end event, which
  * names no job group, so a span waits for the listener bus to empty when
  * it opens and closes: every end event is then delivered while its own
  * span is the innermost open one. With `enabled = false` a span is just the
  * call: no job group, no listener, no waiting. */
final class Tracer(spark: SparkSession, val enabled: Boolean)
    extends SparkListener with QueryExecutionListener {

  private val byLayer = mutable.Map.empty[String, Counters]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val execLayer = mutable.Map.empty[Long, String]
  private val filesMetric = mutable.Map.empty[Long, String] // accumulator id → layer
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  @volatile private var current = "untraced"
  var op = 0

  if (enabled) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Start a new operation: later spans share its id. */
  def nextOp(): Unit = op += 1

  def span[T](layer: String)(body: => T): T =
    if (!enabled) body else {
      val sc = spark.sparkContext
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      val prev = current
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.setJobGroup(layer, layer)
      current = layer
      stack = id :: stack
      spans += Span(id, parent, op, layer, System.nanoTime(), 0L)
      try body finally {
        spans(id) = spans(id).copy(endNs = System.nanoTime())
        stack = stack.tail
        org.apache.spark.perfbench.Bus.drain(sc)
        current = prev
        if (prev == "untraced") sc.clearJobGroup() else sc.setJobGroup(prev, prev)
      }
    }

  /** Counters of every layer whose name satisfies `p`, after all events so
    * far have been delivered. */
  def counters(p: String => Boolean): Counters = {
    if (enabled) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    synchronized {
      val c = new Counters
      byLayer.collect { case (l, v) if p(l) => c += v }
      c
    }
  }

  private def layerOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("untraced")
  private def at(layer: String): Counters = byLayer.getOrElseUpdate(layer, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val l = layerOf(e.properties)
    at(l).jobs += 1
    e.stageIds.foreach(stageLayer(_) = l)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageLayer(e.stageInfo.stageId) = layerOf(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = at(stageLayer.getOrElse(e.stageId, "untraced"))
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def registerFileMetrics(p: SparkPlanInfo, layer: String): Unit = {
    p.metrics.filter(_.name == "number of files read").foreach(m => filesMetric(m.accumulatorId) = layer)
    p.children.foreach(registerFileMetrics(_, layer))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val l = s.jobGroupId.getOrElse("untraced")
        execLayer(s.executionId) = l
        registerFileMetrics(s.sparkPlanInfo, l)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        registerFileMetrics(u.sparkPlanInfo, execLayer.getOrElse(u.executionId, "untraced"))
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) => filesMetric.get(id).foreach(at(_).filesRead += v) }
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    at(current).planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Spans as JSON lines: id, parent, op, layer, start and end in ns. */
  def spansJson: Iterator[String] = spans.iterator.map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
}
