package org.apache.spark.sql.fuserankbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Span recorder for the benchmark's traced run.
  *
  * A span wraps one call into an engine layer, made from the benchmark's
  * own code: name, start, end, parent span and request id. Every Spark
  * job submitted inside a span is tagged with the span id through a local
  * property, so a listener can charge the job's tasks, task time, shuffle
  * and spill bytes, and its SQL scan row counts to that span. Spans stay
  * in memory until [[report]].
  *
  * While the tracer is off, [[span]] runs its body and records nothing,
  * and no listener is attached, so untraced runs pay no tracing cost.
  * It lives in a `org.apache.spark.sql` package to reach the listener
  * bus drain and the executed plan of a finished SQL execution.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  @volatile private var on = false
  private val ids = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  private val counts = new ConcurrentHashMap[Long, Counts]()
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val execSpan = new ConcurrentHashMap[Long, java.lang.Long]()

  private def countsOf(span: Long): Counts = counts.computeIfAbsent(span, _ => new Counts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      tag.foreach { t =>
        val span = t.toLong
        jobSpan.put(e.jobId, span)
        jobStartMs.put(e.jobId, e.time)
        e.stageIds.foreach(s => stageSpan.put(s, span))
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execSpan.putIfAbsent(x.toLong, span))
        val c = countsOf(span)
        c.synchronized { c.jobs += 1 }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val span = jobSpan.get(e.jobId)
      val t0 = jobStartMs.get(e.jobId)
      if (span != null && t0 != null) {
        val c = countsOf(span)
        c.synchronized { c.jobIntervals += ((t0.longValue, e.time)) }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.get(e.stageId)
      if (span != null && e.taskMetrics != null) {
        val m = e.taskMetrics
        val c = countsOf(span)
        c.synchronized {
          c.tasks += 1
          c.taskMs += m.executorRunTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd if end.qe != null =>
        val span = execSpan.get(end.executionId)
        if (span != null) {
          val rows = scanRows(end.qe.executedPlan)
          val c = countsOf(span)
          c.synchronized { c.scanRows += rows }
        }
      case _ => ()
    }
  }

  def isOn: Boolean = on

  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(listener)
    on = true
  }

  /** Detach the listener after every queued event has been delivered. */
  def stop(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    on = false
  }

  /** Block until the listener bus has delivered every posted event, so
    * counts read afterwards are complete. */
  def drain(): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Run `body` inside a span named `name`. `req` ties the spans of one
    * request together; a child span inherits its parent's. */
  def span[A](name: String, req: Long = -1L)(body: => A): A =
    if (!on) body
    else {
      val parent = stack.get.headOption
      val s = new Span(ids.getAndIncrement(), name,
        parent.map(_.id).getOrElse(0L),
        if (req >= 0) req else parent.map(_.req).getOrElse(-1L),
        System.currentTimeMillis(), System.nanoTime())
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      stack.set(s :: stack.get)
      try body
      finally {
        s.t1 = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanKey, prev)
        spans.add(s)
      }
    }

  /** Every finished span with its inclusive Spark counts (its own jobs
    * plus those of its descendants). Drains the bus first. */
  def report(): Seq[SpanStats] = {
    drain()
    val all = spans.asScala.toSeq.sortBy(_.id)
    val children = all.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    all.map { s =>
      val cs = subtree(s).flatMap(x => Option(counts.get(x.id)))
      val intervals = cs.flatMap(c => c.synchronized(c.jobIntervals.toList))
      val wallMs = (s.t1 - s.t0) / 1e6
      val covered = unionMs(intervals.map { case (a, b) =>
        (math.max(a, s.startMs), math.min(b, s.endMs)) })
      SpanStats(s.id, s.name, s.parent, s.req, s.startMs, wallMs,
        jobs = cs.map(c => c.synchronized(c.jobs)).sum,
        tasks = cs.map(c => c.synchronized(c.tasks)).sum,
        taskMs = cs.map(c => c.synchronized(c.taskMs)).sum,
        shuffleWriteBytes = cs.map(c => c.synchronized(c.shuffleWriteBytes)).sum,
        spillBytes = cs.map(c => c.synchronized(c.spillBytes)).sum,
        scanRows = cs.map(c => c.synchronized(c.scanRows)).sum,
        gapMs = math.max(0.0, wallMs - covered))
    }
  }
}

object Tracer {
  val SpanKey = "fuserankbench.span"

  final class Span(val id: Long, val name: String, val parent: Long, val req: Long,
                   val startMs: Long, val t0: Long) {
    @volatile var t1: Long = 0L
    @volatile var endMs: Long = 0L
  }

  final class Counts {
    var jobs = 0L
    var tasks = 0L
    var taskMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var scanRows = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  final case class SpanStats(id: Long, name: String, parent: Long, req: Long,
                             startMs: Long, wallMs: Double, jobs: Long, tasks: Long,
                             taskMs: Long, shuffleWriteBytes: Long, spillBytes: Long,
                             scanRows: Long, gapMs: Double)

  /** Rows produced by the leaf scans of an executed plan: the rows the
    * query read from its cached relations or files. */
  def scanRows(plan: org.apache.spark.sql.execution.SparkPlan): Long =
    plan.collectLeaves().map { leaf =>
      leaf.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum

  /** Length of the union of closed intervals, in ms. */
  def unionMs(intervals: Seq[(Long, Long)]): Double = {
    val sorted = intervals.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    sorted.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }
}
