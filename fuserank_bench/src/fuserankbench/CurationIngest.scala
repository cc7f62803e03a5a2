package fuserankbench

import graft.incremental.IncrementalState
import graft.queries.Pipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.fuserankbench.Tracer.SpanStats
import org.apache.spark.sql.functions._

/** `curation_ingest`: the LLM-data chain on a seeded 5,000-document
  * corpus (the size of the sf0.1 testdata's documents). The set-up is
  * `Pipeline.buildState`; each timed operation is one arriving batch going
  * through `warmScreenAccepted` → land → `IncrementalState.advance`, as in
  * `IngestLoopBench`, with one `compact` after the loop. It measures the
  * dedup, incremental-state, LangId and CharLM code the search workloads
  * never touch.
  */
final class CurationIngest(ctx: Ctx) extends Workload(ctx) {
  val sloMs = 15000.0
  val opSpan = "cycle"
  val NDocs = 5000
  val NBatches = 24

  private val docs = ctx.gen.documents(NDocs)
  private val arriving = ctx.gen.batches(docs, NBatches)
  private var sfDir: String = _
  private val landed = new java.io.File(ctx.work, "landed").getPath
  /** The loop's state and the one-shot comparator's. */
  private val loop = new java.io.File(ctx.work, "state").getPath
  private val oneShot = new java.io.File(ctx.work, "oneshot").getPath
  private var buildMs = 0.0
  private var offered = Map.empty[Int, Long]
  private var accepted = Map.empty[Int, Long]
  private var plainOps = Set.empty[Int]

  override def inputs(): Unit = {
    sfDir = ctx.dir("corpus")
    frame(docs).write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
  }

  private def frame(ds: Seq[Gen.Doc]): DataFrame = {
    val s = spark
    import s.implicits._
    ds.map(d => (d.docId, d.text, d.lang, d.source, d.nChars))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  def setup(): Unit = {
    val t0 = System.nanoTime()
    Pipeline.buildState(spark, sfDir, loop)
    buildMs = (System.nanoTime() - t0) / 1e6
    spark.catalog.clearCache()
  }

  def warmup(): Unit = cycle(0, -1)

  /** Timed operation i ingests arriving batch i + 1 (batch 0 warms up). */
  def op(i: Int): Unit = {
    require(i + 1 < NBatches, s"only ${NBatches - 1} arriving batches generated")
    cycle(i + 1, i)
    if (!tr.isOn) plainOps += i
  }

  private def cycle(b: Int, req: Int): Unit = tr.span(opSpan, req) {
    val batch = arriving(b)
    val (acc, n) = tr.span("curate.screen") {
      val a = Pipeline.warmScreenAccepted(spark, loop, frame(batch))
      (a, a.count())
    }
    tr.span("land")(acc.write.mode("overwrite").parquet(s"$landed/k=$b"))
    tr.span("incr.advance")(IncrementalState.advance(spark, loop, acc, "doc_id", "text"))
    spark.catalog.clearCache()
    if (req >= 0) { offered += req -> batch.size.toLong; accepted += req -> n }
  }

  /** The loop's compact, then the check that its state equals a one-shot
    * build of the same accepted documents: a fresh `buildState` advanced
    * once by every landed batch and compacted, compared relation by
    * relation, plus the frozen scalars. */
  def check(): Seq[String] = {
    IncrementalState.compact(spark, loop)
    Pipeline.buildState(spark, sfDir, oneShot)
    IncrementalState.advance(spark, oneShot, spark.read.parquet(s"$landed/k=*"), "doc_id", "text")
    IncrementalState.compact(spark, oneShot)
    val a = IncrementalState.load(spark, loop)
    val b = IncrementalState.load(spark, oneShot)
    def differs(name: String, x: DataFrame, y: DataFrame): Option[String] = {
      val (onlyX, onlyY) = (x.exceptAll(y).count(), y.exceptAll(x).count())
      if (onlyX == 0 && onlyY == 0) None
      else Some(s"state relation $name: $onlyX rows only in the loop, $onlyY only in the one-shot build")
    }
    def sh(l: IncrementalState.Loaded) = l.baseSh.select(col("doc_id"), concat_ws("\u0001", col("sh")))
    val rels = Seq(
      differs("hashes", a.baseHashes, b.baseHashes),
      differs("exact", a.baseExact, b.baseExact),
      differs("shingles", sh(a), sh(b)),
      differs("buckets", a.baseBuckets, b.baseBuckets),
      differs("partners", a.basePartners, b.basePartners),
      differs("probe", a.probeGrams, b.probeGrams)).flatten
    val scalars =
      if (a.nScorable == b.nScorable && a.threshold == b.threshold && a.n3.sameElements(b.n3)) Nil
      else Seq("frozen scalars differ between the loop and the one-shot build")
    spark.catalog.clearCache()
    rels ++ scalars
  }

  def storedMb(): Double = Workload.diskBytes(loop) / 1e6

  private def writeRate(ops: Set[Int], elapsedS: Double): Double =
    ops.toSeq.map(accepted).sum / elapsedS

  override def extras(plain: Phase): Seq[(String, Double, String)] = Seq(
    ("write_rows_per_s", writeRate(plainOps, plain.elapsedS), "1/s"),
    ("accept_ratio", plainOps.toSeq.map(accepted).sum.toDouble /
      math.max(plainOps.toSeq.map(offered).sum, 1L), "ratio"))

  /** The traced phase's batches appended files again; compact them. */
  override def probe(): Unit = tr.span("incr.compact")(IncrementalState.compact(spark, loop))

  def layers(traced: Phase, spans: Seq[SpanStats]): Map[String, Double] = {
    val screen = named(spans, "curate.screen")
    val tracedOps = accepted.keySet -- plainOps
    val stats = IncrementalState.stats(spark, loop)
    val keepers = IncrementalState.load(spark, loop).baseExact.count()
    sparkWide(spans) ++ Map(
      "curate.build_ms" -> buildMs,
      "curate.screen_ms" -> med(screen.map(_.wallMs)),
      "curate.screen_jobs" -> mean(screen.map(_.jobs.toDouble)),
      "curate.gap_ms" -> med(screen.map(_.gapMs)),
      "curate.accept_ratio" -> tracedOps.toSeq.map(accepted).sum.toDouble /
        math.max(tracedOps.toSeq.map(offered).sum, 1L),
      "incr.advance_ms" -> med(named(spans, "incr.advance").map(_.wallMs)),
      "incr.compact_ms" -> named(spans, "incr.compact").headOption.map(_.wallMs).getOrElse(0.0),
      "incr.state_files" -> stats.values.map(_.files).sum.toDouble,
      "incr.bytes_per_doc" -> stats.values.map(_.bytes).sum.toDouble / math.max(keepers, 1L),
      "incr.write_rows_per_s" -> writeRate(tracedOps, traced.elapsedS))
  }
}

object CurationIngest {

  /** The curation layers measured inside another workload's traced run:
    * one state build, a warm-up batch, two traced batches and a compact,
    * then the loop's equivalence check. Returns the `curate.*` and
    * `incr.*` per-layer metrics and the check's failures. */
  def sideProbe(ctx: Ctx): (Map[String, Double], Seq[String]) = {
    val c = new CurationIngest(ctx.sub("curation"))
    c.inputs()
    c.setup()
    c.warmup()
    val phase = c.fixedOps(0, 2)
    c.probe()
    val stats = c.layers(phase, ctx.tracer.report()).filter { case (k, _) =>
      k.startsWith("curate.") || k.startsWith("incr.") }
    (stats, c.check())
  }
}
