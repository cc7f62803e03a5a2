package fuserankbench

import graft.search.Search
import graft.serve.IvfIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The IVF serving tier over the fixture's text vectors (the Reranking
  * method's text-only retrieval), measured inside another workload's
  * traced run with no write in flight and one client: write the index,
  * probe it, append one landing batch and compact. */
object IvfProbe {
  val K = 10
  val NCells = 16
  val NProbe = 2
  val NQueries = 12

  /** Returns the `serve.*` and `maint.*` per-layer metrics and the
    * failures of the check that an exhaustive probe equals the exact
    * cosine top-k over the table. */
  def run(ctx: Ctx, fx: Fixture.Indexed): (Map[String, Double], Seq[String]) = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val path = new java.io.File(ctx.work, "ivf").getPath
    val vectors = fx.engine.indexed.select("row_id", "text_vec")
    val h = tr.span("maint.write")(IvfIndex.write(vectors, "text_vec", "row_id", path, NCells, iters = 3))
    val rnd = new scala.util.Random(ctx.seed)
    val names = fx.items.select("product_name").collect().map(_.getString(0))
    val qs = Seq.fill(NQueries)(fx.engine.config.embedder.embed(names(rnd.nextInt(names.length))))
    def cellDir(c: Int) = new java.io.File(path, s"cid=$c")
    def files(c: Int) = Option(cellDir(c).listFiles()).toSeq.flatten.count(_.getName.endsWith(".parquet"))
    val filesRead = qs.map { q =>
      val cells = IvfIndex.probeCells(h, q, NProbe)
      tr.span("serve.probe")(IvfIndex.probedTopK(spark, h, q, NProbe, K).collect())
      cells.map(files).sum.toDouble
    }
    val problems = exhaustiveProblems(spark, h, rows(vectors), qs.take(3), K)
    tr.span("maint.append") {
      append(h, rows(vectors.limit(200)).withColumn("id", col("id") + 1000000L))
    }
    val perCell = (0 until NCells).map(files).filter(_ > 0)
    val compacted = tr.span("maint.compact")(IvfIndex.compact(spark, h, maxFilesPerCell = 1))

    val spans = tr.report()
    def named(name: String) = spans.filter(_.name == name)
    def wall(name: String) = named(name).headOption.map(_.wallMs).getOrElse(0.0)
    val probes = named("serve.probe")
    val stats = Map(
      "serve.probe_ms" -> Stats.median(probes.map(_.wallMs)),
      "serve.jobs" -> probes.map(_.jobs.toDouble).sum / math.max(probes.size, 1),
      "serve.cells_probed" -> NProbe.toDouble,
      "serve.files_read" -> Stats.median(filesRead),
      "serve.rows_scored_per_hit" -> Stats.median(probes.map(_.scanRows.toDouble / K)),
      "maint.append_ms" -> wall("maint.append"),
      "maint.compact_ms" -> wall("maint.compact"),
      "maint.files_per_cell" -> perCell.map(_.toDouble).sum / math.max(perCell.size, 1),
      "maint.bytes_rewritten" -> compacted.map(c => Workload.diskBytes(cellDir(c).getPath)).sum.toDouble)
    (stats, problems)
  }

  /** The fixture's (row_id, text_vec) as the index's (id, v) rows. */
  def rows(vectors: DataFrame): DataFrame =
    vectors.select(col("row_id").cast("long").as("id"), Search.asDouble(col("text_vec")).as("v"))

  /** Append (id, v) rows into the index's cell layout with the batch
    * writer: the projection `IvfIndex.appendStream` writes per
    * micro-batch. */
  def append(h: IvfIndex.Handle, rows: DataFrame): Unit =
    rows.withColumn("vn", Search.l2Norm(col("v")))
      .withColumn("cid", Search.ivfAssign(col("v"), h.centroids))
      .write.mode("append").partitionBy("cid").parquet(h.path)

  /** With no write in flight, an exhaustive probe (every cell) equals the
    * exact cosine top-k over `rows`, the index's contents, scored with the
    * same rounded formula. Returns one message per query that differs. */
  def exhaustiveProblems(spark: SparkSession, h: IvfIndex.Handle, rows: DataFrame,
                         qs: Seq[Array[Double]], k: Int): Seq[String] =
    qs.zipWithIndex.flatMap { case (q, j) =>
      val got = IvfIndex.probedTopK(spark, h, q, h.centroids.length, k).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val qn = math.sqrt(q.map(x => x * x).sum)
      val want = rows
        .withColumn("score", round(Search.dot(typedLit(q.toSeq), col("v")) / (lit(qn) * Search.l2Norm(col("v"))), 5) + 0.0)
        .orderBy(col("score").desc, col("id")).limit(k)
        .select(col("id"), col("score")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      if (got == want) None else Some(s"ivf query $j: exhaustive probe $got != exact $want")
    }
}
