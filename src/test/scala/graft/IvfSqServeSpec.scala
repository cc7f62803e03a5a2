package graft

import graft.search.{Quantizer, Search}
import graft.serve.IvfIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** IVF+SQ8 serving: the 8×-compressed near-exact index tier. Same
  * two-axis pruning contract as IVF+PQ (directories via the cid filter,
  * columns via the (id, sq) projection), but because SQ8's per-dimension
  * error is ≤ Δ/510, the probed approximate top-k should MATCH the
  * probed exact top-k on the fixture — the no-refine serving claim.
  */
class IvfSqServeSpec extends SparkSpec {

  private val nCents = 8
  private val dim = 64

  private lazy val built: IvfIndex.Handle = {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivfsq").toString
    IvfIndex.write(emb, "embedding", "vec_id", path,
      nCentroids = nCents, iters = 3, tier = Quantizer.sq8)
  }

  private def grid(h: IvfIndex.Handle) = h.tier.asInstanceOf[Quantizer.Sq]

  // MUST be a lazy val, not a def: test 3's driver recompute indexes
  // q0(i) inside a per-row/per-dim loop — as a def that ran the whole
  // head() pipeline 500×64 times (~17 min of tiny Spark jobs).
  private lazy val q0: Array[Double] = Tables.embeddings(spark, sf("sf0.001"))
    .filter(col("vec_id") === 7L).select("embedding")
    .head().getSeq[Float](0).map(_.toDouble).toArray

  test("sidecars round-trip: centroids AND the (min, max) grid, no scan") {
    val h = built
    val reopened = IvfIndex.open(spark, h.path)
    assert(reopened.dim == dim)
    assert(grid(reopened).mins.toSeq == grid(h).mins.toSeq)
    assert(grid(reopened).maxs.toSeq == grid(h).maxs.toSeq)
    (reopened.centroids, h.centroids).zipped.foreach { (a, b) =>
      assert(a.toSeq == b.toSeq) }
  }

  test("SQ scan prunes directories AND columns: sq bytes read, vectors not") {
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
    assert(schema.contains("sq") && schema.contains("id"),
      s"SQ scan must read id+sq: $schema")
    assert(!schema.contains("v") && !schema.contains("vn"),
      s"SQ scan must NOT read the exact vectors: $schema")
    val pruned = scans.map(_.metrics("numFiles").value).sum
    val total = new java.io.File(h.path).listFiles()
      .filter(_.getName.startsWith("cid=")).flatMap(_.listFiles())
      .count(_.getName.endsWith(".parquet"))
    assert(pruned < total, s"no directory pruning: $pruned of $total files")
  }

  test("scores match a driver dequant recompute; on-disk sq is dim bytes") {
    val h = built
    val g = grid(h)
    val got = IvfIndex.probedTopK(spark, h, q0, nProbe = nCents, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // independent driver recompute over ALL vectors (exhaustive probe)
    val rows = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id").cast("long"), Search.asDouble(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val expected = rows.map { case (id, v) =>
      var s = 0.0; var i = 0
      while (i < dim) {
        val d = g.maxs(i) - g.mins(i)
        val dq = if (d == 0.0) g.mins(i)
          else g.mins(i) + math.round((v(i) - g.mins(i)) / d * 255).toDouble * d / 255.0
        s += dq * q0(i); i += 1
      }
      (id, BigDecimal(s).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0)
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    assert(got.toSeq == expected.toSeq,
      s"driver recompute mismatch:\n got ${got.toSeq}\n exp ${expected.toSeq}")
    // packed column on disk really is dim bytes per row
    val sqLens = spark.read.parquet(h.path).select(length(col("sq")))
      .distinct().collect().map(_.getInt(0)).toSeq
    assert(sqLens == Seq(dim), s"sq byte widths on disk: $sqLens")
  }

  test("batched SQ8 serving is bit-identical to sequential probedTopKSq calls") {
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

  test("calibrateNProbeSq: minimal probe count vs the tier's own exhaustive probe") {
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
    info(s"SQ8 target $target → nProbe=$chosen")
  }

  test("exhaustive-probe SQ8 top-k == exact IP top-k on the fixture (no-refine claim)") {
    val h = built
    val got = IvfIndex.probedTopK(spark, h, q0, nProbe = nCents, k = 10)
      .collect().map(_.getLong(0)).toSeq
    val exact = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id").cast("long").as("vec_id"),
        Search.asDouble(col("embedding")).as("v"))
      .withColumn("score", round(Search.dot(typedLit(q0.toSeq), col("v")), 5) + 0.0)
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10).collect().map(_.getLong(0)).toSeq
    // SQ8 ranks by approximate IP; on the fixture the ≤Δ/510 error must
    // not reorder the head — require ≥ 9/10 id agreement (one boundary
    // swap tolerated: adjacent true scores can sit inside the error band)
    val overlap = got.count(exact.contains)
    assert(overlap >= 9, s"SQ8 head diverged from exact: $got vs $exact")
  }
}
