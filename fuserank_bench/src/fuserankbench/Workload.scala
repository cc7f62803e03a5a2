package fuserankbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.fuserankbench.Tracer
import org.apache.spark.sql.fuserankbench.Tracer.SpanStats

/** What one run knows: the session, the seeded generator, the run length,
  * the tracer (off unless the run is traced) and a scratch directory
  * inside the checkout. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val tracer: Tracer, val work: java.io.File) {
  val gen = new Gen(seed)
  /** The same run context over a sub-directory of the scratch space. */
  def sub(name: String): Ctx = new Ctx(spark, seed, seconds, tracer, new java.io.File(work, name))
  def dir(name: String): String = {
    val d = new java.io.File(work, name)
    d.mkdirs()
    d.getPath
  }
}

/** One timed phase: per-operation latencies (ms) of the operations
  * attempted, how many of them failed, and the span from the first
  * operation's start to the last one's end. */
final case class Phase(latMs: IndexedSeq[Double], failed: Int, elapsedS: Double, gcMs: Double) {
  def attempted: Int = latMs.size
  def opsPerS: Double = (attempted - failed) / elapsedS
}

abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def tr: Tracer = ctx.tracer

  /** Latency limit of one operation for `slo_hit_ratio`. */
  def sloMs: Double
  /** Name of the span that wraps one timed operation. */
  def opSpan: String

  /** Write the generated inputs the set-up reads (untimed). */
  def inputs(): Unit = ()
  /** One complete set-up (data prep plus index or state build). */
  def setup(): Unit
  /** Untimed operations that let caches fill and code compile. */
  def warmup(): Unit
  /** Run one operation, identified by its sequence number. */
  def op(i: Int): Unit
  /** Correctness checks on what the plain timed phase returned; each
    * failure is a message. Runs outside the timed window. */
  def check(): Seq[String]
  /** Bytes the workload's index or state occupies now, in MB. */
  def storedMb(): Double
  /** Extra layer calls made only in the traced run, after the checks
    * (set-up layers called directly), recorded as spans. May release the
    * workload's caches. */
  def probe(): Unit = ()
  /** Checks made during [[probe]], on the layers only it exercises. */
  def probeProblems: Seq[String] = Nil
  /** The traced phase's operation latencies, comparable with the plain
    * phase's for the tracing overhead: the operation spans, since a traced
    * operation may also make direct layer calls outside its span. */
  def tracedLatMs(traced: Phase, spans: Seq[SpanStats]): Seq[Double] =
    spans.filter(_.name == opSpan).map(_.wallMs)
  /** Per-layer metrics from the traced phase's spans. */
  def layers(traced: Phase, spans: Seq[SpanStats]): Map[String, Double]
  /** End-to-end figures that only this workload has (printed on report
    * lines, not in the JSON result): name -> (value, unit). */
  def extras(plain: Phase): Seq[(String, Double, String)] = Nil
  def close(): Unit = ()

  /** The traced phase: as many operations as the plain phase, fresh ones
    * numbered after its, so nothing the plain phase compiled or cached for
    * its inputs is reused. Every sweep and every arriving batch has the
    * same shape, so fresh ones compare like with like. */
  def tracedPhase(plain: Phase): Phase = fixedOps(plain.attempted, plain.attempted)

  /** The timed phase, a closed loop: issue operations back to back until
    * `seconds` have passed; the operation in flight at the deadline
    * completes. Operation numbers start at `first`. */
  def timed(first: Int): Phase = {
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    phase(Iterator.from(first).takeWhile(_ => System.nanoTime() < deadline))
  }

  /** Exactly `n` operations, numbered from `first`, as a phase. */
  def fixedOps(first: Int, n: Int): Phase = phase((first until first + n).iterator)

  private def phase(ids: Iterator[Int]): Phase = {
    val gc0 = Workload.gcMs()
    val t0 = System.nanoTime()
    val lat = IndexedSeq.newBuilder[Double]
    var failed = 0
    var last = t0
    ids.foreach { i =>
      val s = System.nanoTime()
      try op(i)
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[fuserank-bench] op $i failed: $e")
      }
      last = System.nanoTime()
      lat += (last - s) / 1e6
    }
    Phase(lat.result(), failed, (last - t0) / 1e9, Workload.gcMs() - gc0)
  }

  // ---- span helpers for [[layers]] --------------------------------------

  protected def named(spans: Seq[SpanStats], name: String): Seq[SpanStats] =
    spans.filter(_.name == name)
  protected def med(xs: Seq[Double]): Double = Stats.median(xs)
  protected def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The Spark-wide counts per timed operation. */
  protected def sparkWide(spans: Seq[SpanStats]): Map[String, Double] = {
    val ops = named(spans, opSpan)
    val n = math.max(ops.size, 1).toDouble
    Map(
      "spark.jobs" -> ops.map(_.jobs).sum / n,
      "spark.tasks" -> ops.map(_.tasks).sum / n,
      "spark.task_ms" -> ops.map(_.taskMs).sum / n,
      "spark.shuffle_write_bytes" -> ops.map(_.shuffleWriteBytes).sum / n,
      "spark.spill_bytes" -> ops.map(_.spillBytes).sum / n)
  }
}

object Workload {
  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
  }

  /** Bytes of every regular file under `path`. */
  def diskBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(x => diskBytes(x.getPath)).sum
    else if (f.isFile) f.length
    else 0L
  }
}
