package fuserankbench

import graft.eval.Eval
import graft.profile.{ColumnProfile, Profiler}
import graft.query.Filter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.fuserankbench.Tracer.SpanStats

import scala.collection.mutable

/** `eval_batch`: the paper's differential experiment on the indexed
  * fixture. Each sweep samples one row per point with `batchSamples`,
  * synthesizes the point's filters from it, and answers all points with
  * one `searchBatch` scan (the fused subject) against one hard-filter
  * oracle scan. Per-row scoring dominates, so this is where a scan or
  * top-k kernel gain shows, mirroring `search_interactive`.
  */
final class EvalBatch(ctx: Ctx) extends Workload(ctx) {
  val sloMs = 10000.0
  val opSpan = "sweep"
  val K = 10

  private var fx: Fixture.Indexed = _
  /** The raw-unit items with their text vectors: the oracle's table. */
  private var oracleItems: DataFrame = _
  /** Raw-unit profiles, so synthesized dense bounds are in the units the
    * engine's query encoder expects. */
  private var profiles: Map[String, ColumnProfile] = _
  private lazy val sweeps = ctx.gen.sweeps(Fixture.AuxCols, 1000)

  private val done = mutable.Map.empty[Int, EvalBatch.Done]

  def setup(): Unit = {
    fx = Fixture.index(spark)
    oracleItems = fx.items.join(fx.engine.indexed.select("row_id", "text_vec"), "row_id").persist()
    oracleItems.count()
    profiles = Profiler.profile(fx.items, Fixture.AuxCols)
  }

  def warmup(): Unit = sweep(ctx.gen.sweeps(Fixture.AuxCols, 1, warm = true).head, -1)

  def op(i: Int): Unit = done(i) = sweep(sweeps(i), i)

  private def sweep(sw: Gen.Sweep, req: Int): EvalBatch.Done = tr.span(opSpan, req) {
    val samples = tr.span("eval.sample") {
      Eval.batchSamples(oracleItems, "row_id", Fixture.AuxCols :+ "product_name",
        sw.points.map(_.sampleSeed))
    }
    val filters = sw.points.map(p =>
      Eval.experimentFilters(samples(p.sampleSeed).filter(kv => p.modalities.contains(kv._1)), profiles))
    val names = sw.points.map(p =>
      Option(samples(p.sampleSeed)("product_name")).map(_.toString).getOrElse(""))
    val subject = tr.span("search.batch") {
      fx.engine.searchBatch(names.zip(filters), K).collect()
    }
    val byQuery = subject.groupBy(_.getInt(0))
    val texts = names.map(n => fx.engine.config.embedder.embed(n))
    val oracle = tr.span("eval.oracle") {
      Eval.hardFilterTopKBatchPerQuery(oracleItems, "row_id", "text_vec", texts, filters, K)
    }
    EvalBatch.Done(filters, texts, sw.points.indices.map(j => byQuery.getOrElse(j, Array.empty[Row])), oracle)
  }

  private def subjectIds(rows: Array[Row]): Seq[Long] = rows.map(SearchInteractive.id(_, 1)).toSeq

  def check(): Seq[String] = {
    val n = fx.items.count()
    val shape = done.toSeq.sortBy(_._1).flatMap { case (i, d) =>
      d.subject.zipWithIndex.flatMap { case (rows, j) =>
        SearchInteractive.orderProblems(s"sweep $i point $j", rows.map(r => Row.fromSeq(r.toSeq.tail)), K, n)
      }
    }
    // the batched oracle equals the per-point hard-filter top-k on a
    // seeded sample of points
    val rnd = new scala.util.Random(ctx.seed)
    val points = rnd.shuffle(done.toSeq.sortBy(_._1).flatMap { case (i, d) =>
      d.filters.indices.map(j => (i, j)) }).take(3)
    val oracle = points.flatMap { case (i, j) =>
      val d = done(i)
      val one = Eval.hardFilterTopK(oracleItems, "row_id", "text_vec", d.texts(j), d.filters(j), K)
      if (one == d.oracle(j)) None
      else Some(s"sweep $i point $j: batched oracle ${d.oracle(j)} != per-point $one")
    }
    shape ++ oracle
  }

  def storedMb(): Double = Fixture.cachedMb(spark)

  /** (oracle ids, subject ids) of every point of the given sweeps. */
  private def points(sweeps: Seq[Int]): Seq[(Seq[Long], Seq[Long])] =
    sweeps.flatMap(i => done(i).oracle.zip(done(i).subject.map(subjectIds)))

  override def extras(plain: Phase): Seq[(String, Double, String)] = {
    val ps = points(0 until plain.attempted)
    Seq(
      ("recall_at_k", mean(ps.map { case (o, s) => Eval.recall(o, s) }), "ratio"),
      ("rprecision", mean(ps.map { case (o, s) => Eval.rPrecision(o, s) }), "ratio"),
      ("points_per_s", plain.opsPerS * Fixture.AuxCols.size, "1/s"))
  }

  // ---- traced run: the curation layers ---------------------------------

  /** At most three fresh sweeps: enough for the per-layer medians, and
    * they keep the traced run, which also runs the curation layers, well
    * inside its time limit. */
  override def tracedPhase(plain: Phase): Phase =
    fixedOps(plain.attempted, math.min(plain.attempted, 3))

  private var curationStats = Map.empty[String, Double]
  private var curationProblems = Seq.empty[String]
  override def probeProblems: Seq[String] = curationProblems

  /** Traced-run extras: the curation layers with the curation loop's
    * equivalence check (BENCHMARK.json does not list the
    * `curation_ingest` workload, so its layers are measured and checked
    * here). The set-up layers, the same calls on the same table, are
    * measured on `search_interactive`'s traced run. */
  override def probe(): Unit = {
    val (stats, problems) = CurationIngest.sideProbe(ctx)
    curationStats = stats
    curationProblems = problems
  }

  def layers(traced: Phase, spans: Seq[SpanStats]): Map[String, Double] = {
    val batch = named(spans, "search.batch")
    val oracle = named(spans, "eval.oracle")
    val ps = points(named(spans, opSpan).map(_.req.toInt))
    curationStats ++ sparkWide(spans) ++ Map(
      "search.wall_ms" -> med(batch.map(_.wallMs)),
      "search.jobs" -> mean(batch.map(_.jobs.toDouble)),
      "search.task_ms" -> med(batch.map(_.taskMs.toDouble)),
      "search.gap_ms" -> med(batch.map(_.gapMs)),
      "search.rows_scored" -> med(batch.map(_.scanRows.toDouble)),
      "search.rows_scored_per_hit" ->
        med(batch.map(_.scanRows.toDouble / (K * Fixture.AuxCols.size))),
      "eval.sample_ms" -> med(named(spans, "eval.sample").map(_.wallMs)),
      "eval.oracle_ms" -> med(oracle.map(_.wallMs)),
      "eval.oracle_task_ms" -> med(oracle.map(_.taskMs.toDouble)),
      "eval.points" -> Fixture.AuxCols.size.toDouble,
      "eval.recall_at_k" -> mean(ps.map { case (o, s) => Eval.recall(o, s) }),
      "eval.rprecision" -> mean(ps.map { case (o, s) => Eval.rPrecision(o, s) }))
  }

  override def close(): Unit = if (fx != null) { fx.close(); oracleItems.unpersist(); () }
}

object EvalBatch {
  /** One finished sweep: per point its filters, text vector, subject rows
    * and oracle ids. */
  final case class Done(filters: IndexedSeq[Seq[Filter]], texts: IndexedSeq[Array[Double]],
                        subject: IndexedSeq[Array[Row]], oracle: IndexedSeq[Seq[Long]])
}
