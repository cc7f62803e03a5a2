package org.apache.spark.sql.graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one job/action trace of the harness: Bench's `graft.Trace`, the
  * benches and the action-count specs all count through it.
  *
  * `during(spark, tag)(body)` runs `body` under a unique job group and
  * records only that group's jobs, so work other threads submit under
  * their own groups never leaks in. "Actions" are counted as distinct
  * `spark.sql.execution.id`s plus one per job that has no execution id
  * (an RDD action outside SQL execution): AQE submits every query stage
  * and broadcast build as its own job under the parent action's id, so
  * raw job counts are stage counts. The listener bus is asynchronous; the
  * trace drains it with `waitUntilEmpty()` (reachable from this package)
  * before reading, never by sleeping.
  */
object QueryTrace {

  /** One job: id, wall ms (start to end event), and its description —
    * the job description if the body set one, else the result stage's
    * call site. */
  final case class Job(id: Int, ms: Double, description: String)

  /** What one traced body cost. `gapMs` is driver time: wall time minus
    * the union of the job intervals, so 0 ≤ gapMs ≤ wallMs. */
  final case class Trace(tag: String, actions: Int, jobs: Seq[Job], taskMs: Long,
                         shuffleWriteBytes: Long, spillBytes: Long,
                         wallMs: Double, gapMs: Double) {
    /** The trace as JSON (key, rendered value) pairs; see [[jsonObject]]. */
    def fields: Seq[(String, String)] = Seq(
      "tag" -> jsonString(tag), "wall_ms" -> f"$wallMs%.1f", "actions" -> actions.toString,
      "jobs" -> jobs.size.toString, "task_ms" -> taskMs.toString,
      "shuffle_write_bytes" -> shuffleWriteBytes.toString, "spill_bytes" -> spillBytes.toString,
      "gap_ms" -> f"$gapMs%.1f",
      "job_list" -> jobs.map(j => jsonObject(Seq("id" -> j.id.toString,
        "ms" -> f"${j.ms}%.1f", "description" -> jsonString(j.description)))).mkString("[", ",", "]"))

    def json: String = jsonObject(fields)
  }

  /** One-line JSON object from (key, already-rendered value) pairs. */
  def jsonObject(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => jsonString(k) + ":" + v }.mkString("{", ",", "}")

  /** JSON string literal: quote, backslash and every control character
    * escaped, so a multi-line Spark message stays one line. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private val seq = new AtomicInteger(0)

  /** Listener for one traced body; records only jobs of `group`. */
  private[graft] final class Recorder(group: String) extends SparkListener {
    private val execIds = ConcurrentHashMap.newKeySet[String]()
    private val bare = new AtomicInteger(0)
    private val stages = ConcurrentHashMap.newKeySet[Int]()
    private val started = new ConcurrentHashMap[Int, (Long, String)]()
    private val ended = new ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    private val taskMs = new AtomicLong(0L)
    private val shuffleWrite = new AtomicLong(0L)
    private val spill = new AtomicLong(0L)

    override def onJobStart(js: SparkListenerJobStart): Unit =
      Option(js.properties).filter(p => group == p.getProperty("spark.jobGroup.id")).foreach { p =>
        Option(p.getProperty("spark.sql.execution.id")) match {
          case Some(id) => execIds.add(id)
          case None => bare.incrementAndGet()
        }
        js.stageInfos.foreach(s => stages.add(s.stageId))
        val site = js.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?")
        started.put(js.jobId, (js.time, Option(p.getProperty("spark.job.description")).getOrElse(site)))
      }

    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(started.remove(je.jobId)).foreach { case (t0, d) => ended.add((je.jobId, t0, je.time, d)) }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      if (stages.contains(te.stageId)) {
        taskMs.addAndGet(te.taskInfo.duration)
        Option(te.taskMetrics).foreach { m =>
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }

    /** The trace of a body that ran from `t0` to `t1` (epoch ms) in
      * `wallMs`; a job still open at the end is closed at `t1`. */
    def trace(tag: String, t0: Long, t1: Long, wallMs: Double): Trace = {
      val spans = ended.asScala.toSeq ++
        started.asScala.toSeq.map { case (id, (s, d)) => (id, s, t1, d) }
      val jobs = spans.sortBy(_._1).map { case (id, s, e, d) => Job(id, (e - s).toDouble, d) }
      // union of the job intervals, clipped to the body's own interval
      val (covered, _) = spans.map { case (_, s, e, _) => (s.max(t0), e.min(t1)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
        .foldLeft((0L, t0)) { case ((acc, reach), (s, e)) =>
          if (e <= reach) (acc, reach) else (acc + e - s.max(reach), e)
        }
      Trace(tag, execIds.size + bare.get, jobs, taskMs.get, shuffleWrite.get, spill.get,
        wallMs, (wallMs - covered).max(0.0))
    }
  }

  /** Runs `body` traced. If it throws, the listener is still removed and
    * the job group cleared before the exception propagates. */
  def during[A](spark: SparkSession, tag: String)(body: => A): (A, Trace) = {
    val sc = spark.sparkContext
    val group = s"trace-$tag-${seq.incrementAndGet()}"
    val recorder = new Recorder(group)
    val description = sc.getLocalProperty("spark.job.description")
    sc.addSparkListener(recorder)
    try {
      sc.setJobGroup(group, description)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val out = try body finally sc.clearJobGroup()
      val wallMs = (System.nanoTime() - n0) / 1e6
      val t1 = System.currentTimeMillis()
      sc.listenerBus.waitUntilEmpty()
      (out, recorder.trace(tag, t0, t1, wallMs))
    } finally {
      sc.removeSparkListener(recorder)
      if (description != null) sc.setJobDescription(description)
    }
  }
}
