package fuserankbench

import scala.collection.immutable.ListMap

import graft.query.QueryEncoder
import graft.search.Search
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.fuserankbench.Tracer

/** One-off batch-size screen on the `eval_batch` table: time
  * `FuseRankEngine.searchBatch` and `Search.multiTopK` at P ∈ {1, 8, 32,
  * 64} distinct seeded queries, splitting each call's wall time into job
  * time (the union of its jobs' intervals), task time and driver gap.
  * Not part of a benchmark run; its output is committed under `results/`.
  */
object Screen {

  val Ps: Seq[Int] = Seq(1, 8, 32, 64)

  def run(spark: SparkSession, work: java.io.File, out: String): Unit = {
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, 1L, 0.0, tracer, work)
    val fx = Fixture.index(spark)
    val e = fx.engine
    val cfg = e.config
    val reqs = ctx.gen.searches(Fixture.vocab(fx.items), Ps.max)
    val params = QueryEncoder.Params(cfg.params.intervalEpsilon, cfg.params.rangeEpsilon)
    def encoded(p: Int) = reqs.take(p).map(r =>
      QueryEncoder.encode(e.layout, r.filters.map(f => f.column -> f).toMap,
        textVec = cfg.embedder.embed(r.text), transforms = e.transforms, params = params))
    // warm both paths once so the first timed P pays no compile cost
    e.searchBatch(reqs.take(2).map(r => (r.text, r.filters)), 10).collect()
    Search.multiTopK(e.indexed, "fused_vec", cfg.idCol, encoded(2), 10)
    tracer.start()
    val rows = Ps.flatMap { p =>
      val qs = encoded(p)
      tracer.span(s"searchBatch P=$p")(e.searchBatch(reqs.take(p).map(r => (r.text, r.filters)), 10).collect())
      tracer.span(s"multiTopK P=$p")(Search.multiTopK(e.indexed, "fused_vec", cfg.idCol, qs, 10))
      Main.say(s"screen P=$p done")
      Seq(s"searchBatch P=$p", s"multiTopK P=$p")
    }
    val spans = tracer.report().map(s => s.name -> s).toMap
    tracer.stop()
    val table = rows.map { name =>
      val s = spans(name)
      Main.say(f"$name%-18s wall ${s.wallMs}%10.1f ms  jobs ${s.jobs}%3d  " +
        f"job time ${s.wallMs - s.gapMs}%10.1f ms  task ${s.taskMs}%10d ms  gap ${s.gapMs}%8.1f ms")
      ListMap("call" -> name, "wall_ms" -> s.wallMs, "jobs" -> s.jobs,
        "job_ms" -> (s.wallMs - s.gapMs), "task_ms" -> s.taskMs, "gap_ms" -> s.gapMs,
        "scan_rows" -> s.scanRows)
    }
    val doc = ListMap("nproc" -> Runtime.getRuntime.availableProcessors,
      "rows" -> e.indexed.count(), "dim" -> e.layout.dim, "k" -> 10, "calls" -> table)
    java.nio.file.Files.write(new java.io.File(s"$out.screen.json").toPath,
      Stats.json(doc).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    fx.close()
  }
}
