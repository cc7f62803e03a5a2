package graft

import graft.search.{Quantizer, Search}
import graft.serve.IvfIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** IVF+PQ serving (round 10): the compressed index must prune on BOTH
  * axes — directories via the cid partition filter AND columns via the
  * codes-only ADC projection — and the exact-refine step must recover the
  * true ranking from the shortlist.
  */
class IvfPqServeSpec extends SparkSpec {

  private val nCents = 8
  private val dim = 64

  private lazy val built: IvfIndex.Handle = {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    IvfIndex.write(emb, "embedding", "vec_id", path,
      nCentroids = nCents, iters = 3, tier = Quantizer.pq(m = 8, ksub = 16, pqIters = 3))
  }

  private def books(h: IvfIndex.Handle) = h.tier.asInstanceOf[Quantizer.Pq].books

  private lazy val q0: Array[Double] = Tables.embeddings(spark, sf("sf0.001"))
    .filter(col("vec_id") === 7L).select("embedding")
    .head().getSeq[Float](0).map(_.toDouble).toArray

  test("sidecars round-trip: centroids AND codebooks reopen without a scan") {
    val h = built
    val reopened = IvfIndex.open(spark, h.path)
    assert(reopened.dim == dim)
    assert(reopened.centroids.length == h.centroids.length)
    (reopened.centroids, h.centroids).zipped.foreach { (a, b) =>
      assert(a.toSeq == b.toSeq) }
    assert(books(reopened).length == books(h).length)
    for (j <- books(h).indices) {
      assert(books(reopened)(j).length == books(h)(j).length)
      (books(reopened)(j), books(h)(j)).zipped.foreach { (a, b) =>
        assert(a.toSeq == b.toSeq, s"codebook $j must round-trip exactly") }
    }
  }

  test("ADC scan prunes directories AND columns: codes read, vectors not") {
    val h = built
    val df = IvfIndex.probedTopK(spark, h, q0, nProbe = 2, k = 10)
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val schema = scans.map(_.requiredSchema.fieldNames.toSeq).head
    assert(schema.contains("codes") && schema.contains("id"),
      s"ADC scan must read id+codes: $schema")
    assert(!schema.contains("v") && !schema.contains("vn"),
      s"ADC scan must NOT read the exact vectors: $schema")
    // directory pruning still applies on top of the column pruning
    val pruned = scans.map(_.metrics("numFiles").value).sum
    val total = new java.io.File(h.path).listFiles()
      .filter(_.getName.startsWith("cid=")).flatMap(_.listFiles())
      .count(_.getName.endsWith(".parquet"))
    assert(pruned < total, s"no directory pruning: $pruned of $total files")
  }

  test("exhaustive refine == brute-force exact cosine (shortlist covers probed rows)") {
    val h = built
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val n = emb.count().toInt
    val exact = emb
      .select(col("vec_id").cast("long").as("vec_id"),
        Search.asDouble(col("embedding")).as("v"))
      .withColumn("score", round(Search.dot(typedLit(q0.toSeq), col("v")) /
        (lit(math.sqrt(q0.map(x => x * x).sum)) * Search.l2Norm(col("v"))), 5) + 0.0)
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10).select("vec_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val refined = IvfIndex.probedTopK(spark, h, q0,
        nProbe = nCents, k = 10, shortlist = n)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(refined == exact,
      "all-probe all-shortlist refine must equal brute force exactly")
  }

  test("batched ADC serving is bit-identical to sequential probedTopKAdc calls") {
    val h = built
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val qs = Seq(3L, 7L, 11L, 7L).map { id => // includes a duplicate query
      emb.filter(col("vec_id") === id).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toArray
    }
    for (nProbe <- Seq(2, nCents)) {
      val batch = IvfIndex.probedTopKBatch(spark, h, qs, nProbe, 10)
      val sequential = qs.map { q =>
        IvfIndex.probedTopK(spark, h, q, nProbe, 10)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      }
      assert(batch.size == qs.size)
      (batch, sequential).zipped.foreach { (b, s) =>
        assert(b == s, s"nProbe=$nProbe batch $b != sequential $s")
      }
    }
    assert(IvfIndex.probedTopKBatch(spark, h, Nil, 2, 10).isEmpty)
  }

  test("calibrateNProbeAdc: minimal probe count vs the tier's own exhaustive probe") {
    val h = built
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val sample = Seq(3L, 7L, 11L).map { id =>
      emb.filter(col("vec_id") === id).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toArray
    }
    val k = 10
    val exact = IvfIndex.probedTopKBatch(spark, h, sample, nCents, k)
      .map(_.map(_._1).toSet)
    def recallAt(p: Int): Double = {
      val got = IvfIndex.probedTopKBatch(spark, h, sample, p, k)
      (got, exact).zipped.map((g, e) =>
        g.count(t => e(t._1)).toDouble / e.size).sum / sample.size
    }
    val target = 0.9
    val (chosen, curve) = IvfIndex.calibrate(spark, h, sample, k, target)
    assert(chosen >= 1 && chosen <= nCents)
    assert(recallAt(chosen) >= target)
    if (chosen > 1) assert(recallAt(chosen - 1) < target,
      s"nProbe=${chosen - 1} already meets $target — $chosen not minimal")
    assert(curve.exists(_._1 == chosen))
    info(s"PQ target $target → nProbe=$chosen")
  }

  test("malformed sidecars fail loudly on open, never yield a silent wrong index") {
    val h = built
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivfpq-bad").toString
    // copy the parquet layout but write garbage sidecars
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmp, "_centroids.json"),
      "not json at all".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmp, "_pq.json"),
      """{"dim": abc, "books": [[""".getBytes("UTF-8"))
    intercept[Exception](IvfIndex.open(spark, tmp))
    // and a MISSING pq sidecar on a plain (non-PQ) index never opens as PQ
    val plain = java.nio.file.Files.createTempDirectory("graft-ivf-plain").toString
    IvfIndex.write(Tables.embeddings(spark, sf("sf0.001")),
      "embedding", "vec_id", plain, nCentroids = 4, iters = 1)
    assert(IvfIndex.open(spark, plain).tier == Quantizer.Flat)
    // the happy path is unaffected
    assert(books(IvfIndex.open(spark, h.path)).nonEmpty)
  }

  test("moderate shortlist: refined recall beats raw ADC (the refine story)") {
    val h = built
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val exactIds = emb
      .select(col("vec_id").cast("long").as("vec_id"),
        Search.asDouble(col("embedding")).as("v"))
      .withColumn("score", round(Search.dot(typedLit(q0.toSeq), col("v")) /
        (lit(math.sqrt(q0.map(x => x * x).sum)) * Search.l2Norm(col("v"))), 5) + 0.0)
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10).collect().map(_.getLong(0)).toSet
    def recallOf(ids: Seq[Long]) = ids.count(exactIds.contains) / 10.0
    val adc = IvfIndex.probedTopK(spark, h, q0, nCents, 10)
      .collect().map(_.getLong(0)).toSeq
    val refined = IvfIndex.probedTopK(spark, h, q0, nCents, 10, shortlist = 40)
      .collect().map(_.getLong(0)).toSeq
    info(s"recall@10: raw ADC ${recallOf(adc)}, refined(kAdc=40) ${recallOf(refined)}")
    assert(recallOf(refined) >= recallOf(adc),
      "exact refine must never lose recall vs its own shortlist source")
    assert(recallOf(refined) >= 0.5, s"refined recall collapsed: ${recallOf(refined)}")
  }
}
