package fuserankbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.fuserankbench.Tracer

/** The benchmark's JVM entry point (`run.py` builds and launches it).
  *
  * {{{
  * fuserankbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                    --work <dir> --out <prefix>
  * fuserankbench.Main --screen --work <dir> --out <prefix>
  * fuserankbench.Main --train --work <dir>
  * }}}
  *
  * A run sets up the workload once, warms it, times it for `--seconds`,
  * then checks the answers. A traced run then issues as many requests
  * again, of the same mix, with spans on and reports per-layer metrics
  * plus the tracing overhead. Results go to `<prefix>.result.json` (the JSON
  * result line), `<prefix>.record.json` (every sample and diagnostic) and, when
  * traced, `<prefix>.spans.json`. Exit code 1 means a correctness check
  * failed.
  */
object Main {

  val Workloads: Seq[String] = Seq("search_interactive", "eval_batch", "ivf_churn", "curation_ingest")
  /** The workloads BENCHMARK.json lists: what the build's training run
    * (one short plain run each) records the class-data archive from. */
  val Listed: Seq[String] = Seq("search_interactive", "eval_batch")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "latency_tail_ms" -> "ms",
    "ops_per_s" -> "1/s", "slo_hit_ratio" -> "ratio", "stored_mb" -> "MB")

  /** Every per-layer metric; a workload that does not run a layer
    * reports 0 for it. */
  val PerLayer: Seq[(String, String)] = Seq(
    "prep.wall_ms" -> "ms", "prep.jobs" -> "count", "prep.task_ms" -> "ms",
    "transform.wall_ms" -> "ms", "transform.jobs" -> "count",
    "profile.wall_ms" -> "ms", "profile.jobs" -> "count",
    "encode.wall_ms" -> "ms", "encode.task_ms" -> "ms", "encode.rows" -> "count",
    "encode.dim" -> "count", "encode.cached_mb" -> "MB", "encode.query_embed_us" -> "us",
    "query.encode_us" -> "us", "query.jobs" -> "count",
    "search.wall_ms" -> "ms", "search.jobs" -> "count", "search.task_ms" -> "ms",
    "search.gap_ms" -> "ms", "search.rows_scored" -> "count", "search.rows_scored_per_hit" -> "ratio",
    "engine.retrieval_p50_ms" -> "ms", "engine.rerank_p50_ms" -> "ms",
    "engine.jobs_per_search" -> "count", "engine.gap_ms" -> "ms", "engine.residual_ms" -> "ms",
    "rerank.wall_ms" -> "ms", "rerank.jobs" -> "count",
    "eval.sample_ms" -> "ms", "eval.oracle_ms" -> "ms", "eval.oracle_task_ms" -> "ms",
    "eval.points" -> "count", "eval.recall_at_k" -> "ratio", "eval.rprecision" -> "ratio",
    "serve.probe_ms" -> "ms", "serve.jobs" -> "count", "serve.cells_probed" -> "count",
    "serve.files_read" -> "count", "serve.rows_scored_per_hit" -> "ratio",
    "maint.append_ms" -> "ms", "maint.compact_ms" -> "ms", "maint.files_per_cell" -> "count",
    "maint.bytes_rewritten" -> "bytes", "maint.probe_retries" -> "count",
    "serve.queue_ms" -> "ms", "serve.gen_lateness_ms" -> "ms",
    "curate.build_ms" -> "ms", "curate.screen_ms" -> "ms", "curate.screen_jobs" -> "count",
    "curate.gap_ms" -> "ms", "curate.accept_ratio" -> "ratio",
    "incr.advance_ms" -> "ms", "incr.compact_ms" -> "ms", "incr.state_files" -> "count",
    "incr.bytes_per_doc" -> "bytes", "incr.write_rows_per_s" -> "1/s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes", "jvm.gc_ms" -> "ms",
    "trace.overhead_pct" -> "%")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val work = new java.io.File(opts("work"))
    work.mkdirs()
    val spark = session(work)
    val code =
      try {
        if (flags("screen")) { Screen.run(spark, work, opts("out")); 0 }
        else if (flags("train")) {
          Listed.foreach { w =>
            run(spark, w, seed = 1L, seconds = 0.1, trace = false,
              new java.io.File(work, w), new java.io.File(work, w).getPath + "/train")
          }
          0
        } else {
          val w = opts("workload")
          require(Workloads.contains(w), s"unknown workload '$w' (have ${Workloads.mkString(", ")})")
          run(spark, w, opts("seed").toLong, opts("seconds").toDouble, opts("trace") == "1",
            work, opts("out"))
        }
      } finally spark.stop()
    sys.exit(code)
  }

  /** One local[nproc] session with AQE off, as the repo's `Bench` runs,
    * with every scratch path inside `work`. */
  def session(work: java.io.File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("fuserank-bench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", (2L << 20).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new java.io.File(work, "hadoop-tmp").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The fixed ambient-load probe of the repo's `Bench` (a 4M-row sum and
    * distinct count); seconds. */
  def calibProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(4000000L)
      .selectExpr("sum(cast(id as double) * id)", "count(distinct id % 1024)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def make(name: String, ctx: Ctx): Workload = name match {
    case "search_interactive" => new SearchInteractive(ctx)
    case "eval_batch" => new EvalBatch(ctx)
    case "ivf_churn" => new IvfChurn(ctx)
    case "curation_ingest" => new CurationIngest(ctx)
  }

  def say(s: String): Unit = { println(s"[fuserank-bench] $s"); Console.out.flush() }

  private def write(path: String, text: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double, trace: Boolean,
          work: java.io.File, out: String): Int = {
    work.mkdirs()
    val tracer = new Tracer(spark)
    val w = make(name, new Ctx(spark, seed, seconds, tracer, work))
    try {
      w.inputs()
      val t0 = System.nanoTime()
      w.setup()
      val setupS = (System.nanoTime() - t0) / 1e9
      calibProbe(spark)
      val calib = calibProbe(spark)
      w.warmup()
      val plain = w.timed(0)
      val checked = w.check()
      val stored = w.storedMb()
      val extras = w.extras(plain)
      val (traced, spans) =
        if (!trace) (None, Nil)
        else {
          tracer.start()
          val t = w.tracedPhase(plain)
          w.probe()
          val s = tracer.report()
          tracer.stop()
          (Some(t), s)
        }
      val problems = checked ++ w.probeProblems
      val tail = Stats.tail(plain.latMs)
      val sloHits = plain.latMs.count(_ <= w.sloMs) - plain.failed
      val e2e = ListMap(
        "setup_s" -> setupS,
        "latency_p50_ms" -> Stats.median(plain.latMs),
        // below twenty samples no percentile has ten beyond it (every
        // eval_batch run): the median stands in and the report says so
        "latency_tail_ms" -> tail.map(_._2).getOrElse(Stats.median(plain.latMs)),
        "ops_per_s" -> plain.opsPerS,
        "slo_hit_ratio" -> math.max(sloHits, 0).toDouble / math.max(plain.attempted, 1),
        "stored_mb" -> stored)
      val layers: Map[String, Double] = traced.map { t =>
        w.layers(t, spans) ++ Map(
          "jvm.gc_ms" -> plain.gcMs / math.max(plain.attempted, 1),
          "trace.overhead_pct" ->
            (Stats.median(w.tracedLatMs(t, spans)) / Stats.median(plain.latMs) - 1) * 100)
      }.getOrElse(Map.empty)

      say(f"$name seed=$seed seconds=$seconds%.1f trace=${if (trace) 1 else 0} " +
        f"nproc=${Runtime.getRuntime.availableProcessors} calib_probe_s=$calib%.3f")
      EndToEnd.foreach { case (m, unit) =>
        val note = m match {
          case "latency_p50_ms" | "ops_per_s" => s" (n=${plain.attempted})"
          case "latency_tail_ms" => tail match {
            case Some((p, _)) => s" (p$p, n=${plain.attempted})"
            case None => s" (no tail at n=${plain.attempted} < 20: the median)"
          }
          case "slo_hit_ratio" => f" (limit ${w.sloMs}%.0f ms)"
          case _ => ""
        }
        say(f"$m%-16s ${e2e(m)}%14.4f $unit$note")
      }
      extras.foreach { case (m, v, unit) => say(f"$m%-16s $v%14.4f $unit") }
      val errorRate = plain.failed.toDouble / math.max(plain.attempted, 1)
      say(f"error_rate       $errorRate%14.4f ratio (${plain.failed} of ${plain.attempted} failed)")
      if (trace) PerLayer.foreach { case (m, unit) =>
        say(f"  $m%-26s ${layers.getOrElse(m, 0.0)}%14.4f $unit")
      }
      problems.foreach(p => say(s"CHECK FAILED: $p"))
      say(if (problems.isEmpty) "checks passed" else s"${problems.size} checks failed")

      val metrics =
        if (trace) ListMap(PerLayer.map { case (m, u) =>
          m -> ListMap("value" -> layers.getOrElse(m, 0.0), "unit" -> u) }: _*)
        else ListMap(EndToEnd.map { case (m, u) => m -> ListMap("value" -> e2e(m), "unit" -> u) }: _*)
      val attempted = plain.attempted + traced.map(_.attempted).getOrElse(0)
      val failed = plain.failed + traced.map(_.failed).getOrElse(0)
      write(s"$out.result.json", Stats.json(ListMap(
        "correct" -> problems.isEmpty, "attempted" -> attempted, "failed" -> failed,
        "metrics" -> metrics)))
      write(s"$out.record.json", Stats.json(ListMap(
        "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "nproc" -> Runtime.getRuntime.availableProcessors, "calib_probe_s" -> calib,
        "setup_s" -> setupS, "latency_ms" -> plain.latMs, "failed" -> plain.failed,
        "elapsed_s" -> plain.elapsedS, "tail_percentile" -> tail.map(_._1).getOrElse(null), "slo_ms" -> w.sloMs,
        "end_to_end" -> e2e, "extras" -> ListMap(extras.map(e => e._1 -> e._2): _*),
        "error_rate" -> errorRate,
        "per_layer" -> ListMap(PerLayer.map { case (m, _) => m -> layers.getOrElse(m, 0.0) }: _*),
        "traced_latency_ms" -> traced.map(_.latMs).getOrElse(Nil),
        "problems" -> problems)))
      if (trace) write(s"$out.spans.json", Stats.json(spans.map(s => ListMap(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "req" -> s.req,
        "start_ms" -> s.startMs, "wall_ms" -> s.wallMs, "jobs" -> s.jobs, "tasks" -> s.tasks,
        "task_ms" -> s.taskMs, "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "spill_bytes" -> s.spillBytes, "scan_rows" -> s.scanRows, "gap_ms" -> s.gapMs))))
      if (problems.isEmpty) 0 else 1
    } finally {
      w.close()
      spark.catalog.clearCache()
    }
  }
}
