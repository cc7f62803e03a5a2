package graft

import graft.search.Quantizer
import graft.serve.IvfIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** IVF+binary serving: the 64×-compressed tier. Same two-axis pruning
  * contract as IVF+PQ/SQ8 (directories via the cid filter, columns via
  * the (id, sig) projection — ⌈dim/64⌉ longs instead of dim doubles),
  * with Hamming shortlist + mandatory exact refine; at full probe and a
  * corpus-sized shortlist the refined top-k must equal the exact index's.
  */
class BqServeSpec extends SparkSpec {

  private val nCents = 8
  private val dim = 64

  private lazy val built: IvfIndex.Handle = {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivfbq").toString
    IvfIndex.write(emb, "embedding", "vec_id", path,
      nCentroids = nCents, iters = 3, tier = Quantizer.binary)
  }

  private def thresholds(h: IvfIndex.Handle) = h.tier.asInstanceOf[Quantizer.Bq].thresholds

  private lazy val q0: Array[Double] = Tables.embeddings(spark, sf("sf0.001"))
    .filter(col("vec_id") === 7L).select("embedding")
    .head().getSeq[Float](0).map(_.toDouble).toArray

  test("sidecars round-trip: centroids AND thresholds, no scan") {
    val h = built
    val reopened = IvfIndex.open(spark, h.path)
    assert(reopened.dim == dim)
    assert(thresholds(reopened).toSeq == thresholds(h).toSeq)
    (reopened.centroids, h.centroids).zipped.foreach { (a, b) =>
      assert(a.toSeq == b.toSeq) }
  }

  test("shortlist scan prunes directories AND columns: sig words read, vectors not") {
    val h = built
    // drive the shortlist phase alone (the first job inside a refined
    // probe): the unrefined binary probe projects (id, sig), ranks by
    // Hamming, limits — and inspect its executed scan
    val cells = IvfIndex.probeCells(h, q0, 2)
    val df = IvfIndex.probedTopK(spark, h, q0, nProbe = 2, k = 40)
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val schema = scans.map(_.requiredSchema.fieldNames.toSeq).head
    assert(schema.contains("sig") && schema.contains("id"),
      s"shortlist scan must read id+sig: $schema")
    assert(!schema.contains("v") && !schema.contains("vn"),
      s"shortlist scan must NOT read the exact vectors: $schema")
    // directory pruning: only the probed cells' files
    val probedFiles = cells.map { c =>
      new java.io.File(s"${h.path}/cid=$c").listFiles()
        .count(_.getName.endsWith(".parquet"))
    }.sum
    assert(scans.map(_.metrics("numFiles").value).sum == probedFiles)
  }

  test("full probe + corpus-wide shortlist == the exact index's top-k") {
    val h = built
    val n = Tables.embeddings(spark, sf("sf0.001")).count().toInt
    val refined = IvfIndex.probedTopK(spark, h, q0, nProbe = nCents,
        k = 10, shortlist = n)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // exact tier on the same layout (the binary tier keeps v/vn)
    val exact = IvfIndex.probedTopK(spark,
        h.copy(tier = Quantizer.Flat), q0, nProbe = nCents, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(refined == exact,
      "corpus-wide-shortlist binary serving must equal exact serving")
  }

  test("batched binary serving == P sequential calls, bit-identical") {
    val h = built
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val queries = Seq(3L, 7L, 11L, 13L).map { id =>
      emb.filter(col("vec_id") === id).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toArray
    }
    val batch = IvfIndex.probedTopKBatch(spark, h, queries, nProbe = 3,
      k = 5, shortlist = 30)
    val seq = queries.map { q =>
      IvfIndex.probedTopK(spark, h, q, nProbe = 3, k = 5, shortlist = 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    (batch, seq).zipped.foreach { (b, s) =>
      assert(b == s, s"batched $b != sequential $s")
    }
  }

  test("calibrateShortlistBq: minimal shortlist meeting the target, monotone curve") {
    val h = built
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val n = emb.count().toInt
    val sample = Seq(3L, 7L, 11L).map { id =>
      emb.filter(col("vec_id") === id).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toArray
    }
    val target = 0.6
    val (chosen, curve) = IvfIndex.calibrate(spark, h, sample,
      k = 5, target = target, nProbe = nCents, maxShortlist = n)
    info(s"chosen shortlist=$chosen; curve=${curve.map { case (s, r) => f"$s:$r%.2f" }.mkString(", ")}")
    val m = curve.toMap
    assert(m(chosen) >= target)
    // minimality among the measured levels below the chosen one
    curve.filter(_._1 < chosen).foreach { case (s, r) =>
      assert(r < target, s"shortlist $s already met the target but $chosen chosen")
    }
    // monotone within measurement (identical candidate-set growth)
    curve.sliding(2).foreach {
      case Seq((s1, r1), (s2, r2)) =>
        assert(r2 >= r1 - 1e-9, s"recall dropped $s1:$r1 -> $s2:$r2")
      case _ =>
    }
  }

  test("calibrateShortlistBq: an infeasible target THROWS instead of silently returning maxShortlist") {
    val h = built
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val sample = Seq(3L, 7L, 11L).map { id =>
      emb.filter(col("vec_id") === id).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toArray
    }
    // shortlist capped at k on the 64×-lossy binary tier: perfect recall is
    // unreachable, and the old code returned (maxShortlist, curve) exactly
    // like a success — a caller would deploy believing target met
    val e = intercept[IllegalStateException] {
      IvfIndex.calibrate(spark, h, sample,
        k = 5, target = 1.0, nProbe = nCents, maxShortlist = 5)
    }
    assert(e.getMessage.contains("infeasible"))
  }

  test("probed binary serving: sane recall at a 40-candidate shortlist") {
    val h = built
    val got = IvfIndex.probedTopK(spark, h, q0, nProbe = nCents,
        k = 10, shortlist = 40)
      .collect().map(_.getLong(0)).toSet
    assert(got.size == 10)
    val exact = IvfIndex.probedTopK(spark,
        h.copy(tier = Quantizer.Flat), q0, nProbe = nCents, k = 10)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    info(s"binary(shortlist=40) recall@10 vs exact: $recall")
    // the 64×-compression trade on the adversarial random corpus: must
    // beat chance (40/~600) clearly; real corpora with cluster structure
    // do far better (PqSpec's clustered-corpus precedent)
    assert(recall >= 0.2, s"below floor: $recall")
  }
}
