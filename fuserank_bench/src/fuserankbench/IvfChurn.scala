package fuserankbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import graft.serve.IvfIndex
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.fuserankbench.Tracer.SpanStats
import org.apache.spark.sql.functions._

import scala.collection.concurrent.TrieMap

/** `ivf_churn`: the serving tier with writes beside reads. The set-up
  * indexes the fixture and writes an IVF index over its text vectors (the
  * Reranking method's text-only retrieval). The timed phase is open loop:
  * `probedTopK` requests arrive on a seeded Poisson schedule at a pinned
  * rate of about half one client's capacity and are served by two client
  * threads, while one writer thread runs append + `compact` cycles. It is
  * the only workload that reads files instead of the persisted in-memory
  * index, and it shows whether a faster read path steals time from writes
  * or the other way round.
  */
final class IvfChurn(ctx: Ctx) extends Workload(ctx) {
  val sloMs = 1000.0
  val opSpan = "serve.request"
  import IvfProbe.{K, NCells, NProbe}
  val Clients = 2
  /** Offered probes per second: about half of one client's capacity at
    * the 170–300 ms a probe takes on 4 cores. */
  val RatePerS = 2.0
  /** Rows per append: every row whose id falls in one residue class. */
  val AppendMod = 100
  val MaxAttempts = 3

  private val path = new java.io.File(ctx.work, "ivf").getPath
  private var fx: Fixture.Indexed = _
  private var vectors: DataFrame = _
  private var h: IvfIndex.Handle = _
  private var qs: IndexedSeq[Array[Double]] = _
  private val answers = TrieMap.empty[Int, Array[Row]]

  /** Append cycles run so far; cycle c lands copies of the rows with
    * row_id % AppendMod == c % AppendMod under ids shifted by (c + 1)·10⁶. */
  private var cycles = 0
  private val retries = new AtomicInteger(0)
  private var writeProblems = Vector.empty[String]
  /** Per timed phase, in order: rows appended per second of the writer's
    * cycles, and probe retries. */
  private var phases = Vector.empty[(Double, Int)]
  /** Per request: the wait from when it fell due until it started, and
    * whether its client was idle at that moment (so the wait is the load
    * generator's own lateness, not queueing). */
  private val waits = TrieMap.empty[Int, (Double, Boolean)]
  private var filesPerCell = Vector.empty[Double]
  private var bytesRewritten = Vector.empty[Double]
  private val filesRead = TrieMap.empty[Int, Double]

  def setup(): Unit = {
    fx = Fixture.index(spark)
    vectors = fx.engine.indexed.select("row_id", "text_vec")
    h = IvfIndex.write(vectors, "text_vec", "row_id", path, NCells, iters = 3)
    val texts = ctx.gen.probeTexts(Fixture.vocab(fx.items), 4000)
    qs = texts.map(t => fx.engine.config.embedder.embed(t))
  }

  def warmup(): Unit = {
    (0 until 6).foreach(i => IvfIndex.probedTopK(spark, h, qs(qs.size - 1 - i), NProbe, K).collect())
    writeCycle()
  }

  private def appendBatch(c: Int): DataFrame =
    IvfProbe.rows(vectors.where(col("row_id") % AppendMod === c % AppendMod))
      .withColumn("id", col("id") + (c + 1L) * 1000000L)

  private def cellDir(c: Int) = new java.io.File(path, s"cid=$c")
  private def files(c: Int) =
    Option(cellDir(c).listFiles()).toSeq.flatten.count(_.getName.endsWith(".parquet"))

  /** One maintenance cycle: append a batch, then compact every cell with
    * more than one file. Returns rows appended. */
  private def writeCycle(): Long = {
    val batch = appendBatch(cycles)
    val rows = batch.count()
    tr.span("maint.append")(IvfProbe.append(h, batch))
    cycles += 1
    if (tr.isOn) {
      val perCell = (0 until NCells).map(files).filter(_ > 0)
      filesPerCell :+= perCell.sum.toDouble / math.max(perCell.size, 1)
    }
    val compacted = tr.span("maint.compact")(IvfIndex.compact(spark, h, maxFilesPerCell = 1))
    if (tr.isOn) bytesRewritten :+= compacted.map(x => Workload.diskBytes(cellDir(x).getPath)).sum.toDouble
    rows
  }

  /** One probe; a read that races a compaction's cell swap can fail, and
    * is retried up to [[MaxAttempts]] times. */
  def op(i: Int): Unit = {
    val q = qs(i % qs.size)
    if (tr.isOn) filesRead(i) = IvfIndex.probeCells(h, q, NProbe).map(files).sum.toDouble
    answers(i) = tr.span(opSpan, i) {
      var attempt = 1
      var got: Array[Row] = null
      while (got == null) {
        try got = IvfIndex.probedTopK(spark, h, q, NProbe, K).collect()
        catch {
          case _: Exception if attempt < MaxAttempts =>
            retries.incrementAndGet()
            attempt += 1
        }
      }
      got
    }
  }

  /** The open-loop phase: two clients serve the seeded arrivals of the
    * next `seconds` while the writer cycles; the writer finishes the cycle
    * in flight when the last request completes. A request's latency runs
    * from when it fell due. Request numbers start at `first`. */
  override def timed(first: Int): Phase = {
    val arrivals = ctx.gen.arrivals(RatePerS, ctx.seconds)
    val n = arrivals.size
    val lat = new Array[Double](n)
    val ok = new Array[Boolean](n)
    val next = new AtomicInteger(0)
    val stop = new AtomicBoolean(false)
    var rows = 0L
    var writerEnd = 0L
    val retries0 = retries.get
    val gc0 = Workload.gcMs()
    val t0 = System.nanoTime()
    val writer = new Thread(() => {
      try while (!stop.get) { rows += writeCycle(); writerEnd = System.nanoTime() }
      catch { case e: Exception => synchronized { writeProblems :+= s"write cycle $cycles failed: $e" } }
    })
    val clients = (0 until Clients).map { _ =>
      new Thread(() => {
        var free = t0
        var j = next.getAndIncrement()
        while (j < n) {
          val due = t0 + arrivals(j)
          val idle = free <= due
          while (System.nanoTime() < due) Thread.sleep(math.max(0L, (due - System.nanoTime()) / 1000000L))
          val s = System.nanoTime()
          waits(first + j) = ((s - due) / 1e6, idle)
          ok(j) =
            try { op(first + j); true }
            catch {
              case e: Exception =>
                System.err.println(s"[fuserank-bench] probe ${first + j} failed: $e")
                false
            }
          free = System.nanoTime()
          lat(j) = (free - due) / 1e6
          j = next.getAndIncrement()
        }
      })
    }
    writer.start()
    clients.foreach(_.start())
    clients.foreach(_.join())
    val end = System.nanoTime()
    stop.set(true)
    writer.join()
    phases :+= ((if (writerEnd > t0) rows / ((writerEnd - t0) / 1e9) else 0.0, retries.get - retries0))
    Phase(lat.toIndexedSeq, ok.count(!_), (end - t0) / 1e9, Workload.gcMs() - gc0)
  }

  /** The same arrival schedule, with fresh queries. */
  override def tracedPhase(plain: Phase): Phase = timed(plain.attempted)

  /** A request's latency includes its wait for a client, which no span
    * covers. */
  override def tracedLatMs(traced: Phase, spans: Seq[SpanStats]): Seq[Double] = traced.latMs

  /** Answers from the plain phase have K rows in (score desc, id) order;
    * with no write in flight, an exhaustive probe equals the exact cosine
    * top-k over the base rows plus every appended batch. */
  def check(): Seq[String] = {
    val shape = answers.toSeq.sortBy(_._1).flatMap { case (i, rows) =>
      SearchInteractive.orderProblems(s"probe $i", rows, K, Long.MaxValue)
    }
    val all = (0 until cycles).map(appendBatch).foldLeft(IvfProbe.rows(vectors))(_ union _)
    val rnd = new scala.util.Random(ctx.seed)
    writeProblems ++ shape ++
      IvfProbe.exhaustiveProblems(spark, h, all, Seq.fill(3)(qs(rnd.nextInt(qs.size))), K)
  }

  def storedMb(): Double = Workload.diskBytes(path) / 1e6

  override def extras(plain: Phase): Seq[(String, Double, String)] = Seq(
    ("write_rows_per_s", phases.head._1, "1/s"),
    ("probe_retries", phases.head._2.toDouble, "count"))

  def layers(traced: Phase, spans: Seq[SpanStats]): Map[String, Double] = {
    val probes = named(spans, opSpan)
    val phaseWaits = waits.filter { case (i, _) => probes.exists(_.req == i) }.values.toSeq
    sparkWide(spans) ++ Map(
      "serve.probe_ms" -> med(probes.map(_.wallMs)),
      "serve.jobs" -> mean(probes.map(_.jobs.toDouble)),
      "serve.cells_probed" -> NProbe.toDouble,
      "serve.files_read" -> med(filesRead.values.toSeq),
      "serve.rows_scored_per_hit" -> med(probes.map(_.scanRows.toDouble / K)),
      "serve.queue_ms" -> med(phaseWaits.filterNot(_._2).map(_._1)),
      "serve.gen_lateness_ms" -> med(phaseWaits.filter(_._2).map(_._1)),
      "maint.append_ms" -> med(named(spans, "maint.append").map(_.wallMs)),
      "maint.compact_ms" -> med(named(spans, "maint.compact").map(_.wallMs)),
      "maint.files_per_cell" -> med(filesPerCell),
      "maint.bytes_rewritten" -> med(bytesRewritten),
      "maint.probe_retries" -> phases.last._2.toDouble)
  }

  override def close(): Unit = if (fx != null) fx.close()
}
