package fuserankbench

import graft.SearchMethod
import graft.encode.{Embedders, ProductEncoder}
import graft.profile.Profiler
import graft.query._
import graft.rerank.Rerank
import graft.search.Search
import org.apache.spark.sql.Row
import org.apache.spark.sql.fuserankbench.Tracer.SpanStats
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `search_interactive`: the reference app. One closed-loop client issues
  * seeded searches against the indexed fixture, half Retrieval and half
  * Reranking. The per-search driver and job floor dominates, so cutting
  * jobs or planning per query moves this workload and a faster scan
  * kernel should not.
  */
final class SearchInteractive(ctx: Ctx) extends Workload(ctx) {
  val sloMs = 1000.0
  val opSpan = "engine.search"

  private var fx: Fixture.Indexed = _
  private lazy val vocab = Fixture.vocab(fx.items)
  private lazy val reqs = ctx.gen.searches(vocab, 20000)
  /** The traced phase's requests: the plain phase's, retexted. */
  private lazy val twins = ctx.gen.retexted(vocab, reqs)
  private val answers = mutable.Map.empty[Int, Array[Row]]

  def setup(): Unit = fx = Fixture.index(spark)

  def warmup(): Unit =
    ctx.gen.searches(vocab, 6, warm = true).foreach(r =>
      fx.engine.search(r.text, r.filters, r.k, r.method).collect())

  def op(i: Int): Unit = {
    val r = if (tr.isOn) twins(i) else reqs(i)
    val rows = tr.span(opSpan, i) {
      fx.engine.search(r.text, r.filters, r.k, r.method).collect()
    }
    answers(i) = rows
    if (tr.isOn) direct(r, rows)
  }

  /** The engine call's layers, called directly on the same inputs: query
    * embedding and encoding, the scan and top-k, and the re-rank of the
    * gathered rows. The engine time they leave unexplained is the gather. */
  private def direct(r: Gen.SearchReq, rows: Array[Row]): Unit = {
    val e = fx.engine
    val cfg = e.config
    val textVec = tr.span("encode.query_embed", r.id)(cfg.embedder.embed(r.text))
    r.method match {
      case SearchMethod.Retrieval =>
        val q = tr.span("query.encode", r.id) {
          QueryEncoder.encode(e.layout, r.filters.map(f => f.column -> f).toMap,
            textVec = textVec, transforms = e.transforms,
            farthest = QueryEncoder.sparkFarthest(e.items, cfg.geoCols),
            params = QueryEncoder.Params(cfg.params.intervalEpsilon, cfg.params.rangeEpsilon))
        }
        tr.span("search.topk", r.id)(
          Search.fusedTopK(e.indexed, "fused_vec", cfg.idCol, q, r.k).collect())
      case SearchMethod.Reranking =>
        val top = tr.span("search.topk", r.id)(
          Search.fusedTopK(e.indexed, "text_vec", cfg.idCol, textVec, r.k).collect())
        // the gathered rows the engine re-ranks, rebuilt untimed as a local
        // relation so the span holds the re-rank alone
        val scores = top.map(t => SearchInteractive.id(t, 0) -> t.getDouble(1)).toMap
        val it = e.itemsTransformed
        val itemFields = it.schema.fields.filterNot(_.name == cfg.idCol)
        val gathered = it.where(col(cfg.idCol).isin(scores.keys.toSeq: _*)).collect().map { row =>
          val id = row.get(row.fieldIndex(cfg.idCol))
          Row.fromSeq(Seq(id, scores(SearchInteractive.id(row, row.fieldIndex(cfg.idCol)))) ++
            itemFields.map(f => row.get(row.fieldIndex(f.name))))
        }
        val schema = org.apache.spark.sql.types.StructType(it.schema(cfg.idCol) +:
          org.apache.spark.sql.types.StructField("relevance", org.apache.spark.sql.types.DoubleType) +:
          itemFields.toSeq)
        val local = spark.createDataFrame(java.util.Arrays.asList(gathered: _*), schema)
        val scaled = r.filters.map {
          case f: DensePointFilter if e.transforms.contains(f.column) =>
            f.copy(value = e.transforms(f.column).applyScalar(f.value))
          case f: DenseIntervalFilter if e.transforms.contains(f.column) =>
            val t = e.transforms(f.column)
            f.copy(lo = t.applyScalar(f.lo), hi = t.applyScalar(f.hi))
          case f => f
        }
        val minMax = e.profiles.map { case (c, p) => c -> (p.min, p.max) }
        tr.span("rerank", r.id)(Rerank.rerank(local, scaled, minMax, cfg.geoCols).collect())
    }
    ()
  }

  /** The plain phase's request mix again, retexted, so the tracing
    * overhead compares like with like. */
  override def tracedPhase(plain: Phase): Phase = fixedOps(0, plain.attempted)

  private var setupStats = Map.empty[String, Double]
  private var ivfStats = Map.empty[String, Double]
  private var ivfProblems = Seq.empty[String]
  override def probeProblems: Seq[String] = ivfProblems

  /** Traced-run extras: the quiet IVF serving probe, then the set-up
    * layers (which release the engine's caches). */
  override def probe(): Unit = {
    val (stats, problems) = IvfProbe.run(ctx, fx)
    ivfStats = stats
    ivfProblems = problems
    setupStats = SearchInteractive.setupLayers(ctx, fx)
  }

  def check(): Seq[String] = {
    val n = fx.engine.indexed.count()
    val shape = answers.toSeq.sortBy(_._1).flatMap { case (i, rows) =>
      SearchInteractive.orderProblems(s"search $i", rows, reqs(i).k, n)
    }
    // the engine's bit-identical contract: a seeded sample of Retrieval
    // answers equals searchBatch over the same queries
    val rnd = new scala.util.Random(ctx.seed)
    val sample = rnd.shuffle(answers.keys.toSeq.sorted
      .filter(i => reqs(i).method == SearchMethod.Retrieval)).take(4).sorted
    val batch = if (sample.isEmpty) Array.empty[Row] else
      fx.engine.searchBatch(sample.map(i => (reqs(i).text, reqs(i).filters)),
        sample.map(reqs(_).k).max).collect()
    val byQuery = batch.groupBy(_.getInt(0))
    val equal = sample.zipWithIndex.flatMap { case (i, qi) =>
      val want = answers(i).map(_.toSeq)
      val got = byQuery.getOrElse(qi, Array.empty[Row]).map(_.toSeq.tail).take(reqs(i).k)
      if (want.toSeq == got.toSeq) None
      else Some(s"search $i: searchBatch answer differs from search")
    }
    shape ++ equal
  }

  def storedMb(): Double = Fixture.cachedMb(spark)

  def layers(traced: Phase, spans: Seq[SpanStats]): Map[String, Double] = {
    val byReq = spans.filter(_.req >= 0).groupBy(_.req)
    val engine = named(spans, opSpan)
    def engineWall(m: SearchMethod) =
      engine.filter(s => reqs(s.req.toInt).method == m).map(_.wallMs)
    val topk = named(spans, "search.topk")
    val residual = engine.map { s =>
      val parts = byReq(s.req).filter(x => x.name != opSpan).map(_.wallMs).sum
      s.wallMs - parts
    }
    SearchInteractive.setupMetrics(spans) ++ setupStats ++ ivfStats ++ sparkWide(spans) ++ Map(
      "encode.query_embed_us" -> med(named(spans, "encode.query_embed").map(_.wallMs * 1e3)),
      "query.encode_us" -> med(named(spans, "query.encode").map(_.wallMs * 1e3)),
      "query.jobs" -> mean(named(spans, "query.encode").map(_.jobs.toDouble)),
      "search.wall_ms" -> med(topk.map(_.wallMs)),
      "search.jobs" -> mean(topk.map(_.jobs.toDouble)),
      "search.task_ms" -> med(topk.map(_.taskMs.toDouble)),
      "search.gap_ms" -> med(topk.map(_.gapMs)),
      "search.rows_scored" -> med(topk.map(_.scanRows.toDouble)),
      "search.rows_scored_per_hit" ->
        med(topk.map(s => s.scanRows.toDouble / reqs(s.req.toInt).k)),
      "engine.retrieval_p50_ms" -> med(engineWall(SearchMethod.Retrieval)),
      "engine.rerank_p50_ms" -> med(engineWall(SearchMethod.Reranking)),
      "engine.jobs_per_search" -> mean(engine.map(_.jobs.toDouble)),
      "engine.gap_ms" -> med(engine.map(_.gapMs)),
      "engine.residual_ms" -> med(residual),
      "rerank.wall_ms" -> med(named(spans, "rerank").map(_.wallMs)),
      "rerank.jobs" -> mean(named(spans, "rerank").map(_.jobs.toDouble)))
  }

  override def close(): Unit = if (fx != null) fx.close()
}

object SearchInteractive {

  /** An integral id column as a long (the fixture's row_id is an int). */
  def id(row: Row, i: Int): Long = row.get(i).asInstanceOf[Number].longValue

  /** An answer has min(k, n) rows ordered by (relevance desc, id asc),
    * Spark's order: a null relevance sorts after every value. Column 0 is
    * the id and column 1 the relevance. */
  def orderProblems(what: String, rows: Array[Row], k: Int, n: Long): Seq[String] = {
    val want = math.min(k.toLong, n)
    val count = if (rows.length != want) Seq(s"$what: ${rows.length} rows, want $want") else Nil
    def rel(r: Row): Option[Double] = if (r.isNullAt(1)) None else Some(r.getDouble(1))
    val order = rows.sliding(2).collect {
      case Array(a, b) if {
        val c = (rel(a), rel(b)) match {
          case (Some(x), Some(y)) => java.lang.Double.compare(y, x)
          case (None, Some(_)) => 1
          case (Some(_), None) => -1
          case (None, None) => 0
        }
        c > 0 || (c == 0 && id(a, 0) >= id(b, 0))
      } => s"$what: rows ${id(a, 0)} and ${id(b, 0)} out of (relevance desc, id) order"
    }.take(1).toSeq
    count ++ order
  }

  /** The set-up's layers, called directly on the same inputs as
    * `FuseRankEngine.index`: prep, the pinned transforms, the profile
    * aggregation and the fused encode. Releases the engine's caches first,
    * so every layer computes instead of hitting them. */
  def setupLayers(ctx: Ctx, fx: Fixture.Indexed): Map[String, Double] = {
    val tr = ctx.tracer
    fx.close()
    val cfg = fx.engine.config
    val items = tr.span("prep")(Fixture.items(ctx.spark))
    val transformed = tr.span("transform") {
      fx.engine.transforms.foldLeft(items) { case (df, (c, t)) => df.withColumn(c, t(col(c))) }
    }
    tr.span("profile")(Profiler.profile(transformed, cfg.auxCols.filterNot(cfg.geoCols.contains)))
    val before = Fixture.cachedMb(ctx.spark)
    val encoded = tr.span("encode") {
      val withText = Embedders.fuseInto(graft.Tables.spread(transformed), cfg.embedder,
        cfg.textCols, "text_vec")
      val enc = ProductEncoder.encode(withText, fx.engine.layout).persist()
      enc.count()
      enc
    }
    val stats = Map(
      "encode.cached_mb" -> (Fixture.cachedMb(ctx.spark) - before),
      "encode.rows" -> encoded.count().toDouble,
      "encode.dim" -> fx.engine.layout.dim.toDouble)
    encoded.unpersist()
    items.unpersist()
    stats
  }

  def setupMetrics(spans: Seq[SpanStats]): Map[String, Double] = {
    def one(name: String) = spans.find(_.name == name)
    def wall(name: String) = one(name).map(_.wallMs).getOrElse(0.0)
    def jobs(name: String) = one(name).map(_.jobs.toDouble).getOrElse(0.0)
    def task(name: String) = one(name).map(_.taskMs.toDouble).getOrElse(0.0)
    Map(
      "prep.wall_ms" -> wall("prep"), "prep.jobs" -> jobs("prep"), "prep.task_ms" -> task("prep"),
      "transform.wall_ms" -> wall("transform"), "transform.jobs" -> jobs("transform"),
      "profile.wall_ms" -> wall("profile"), "profile.jobs" -> jobs("profile"),
      "encode.wall_ms" -> wall("encode"), "encode.task_ms" -> task("encode"))
  }
}
