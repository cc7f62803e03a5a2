package graft

import graft.search.Quantizer
import graft.serve.IvfIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** IVF+MRL serving (round 10): the fit-free prefix tier must prune on
  * BOTH axes — directories via the cid partition filter AND columns via
  * the (id, pre, pn) shortlist projection — degenerate exactly to the
  * flat probed ranking when nothing is truncated away, and batch
  * bit-identically to sequential calls.
  */
class MrlServeSpec extends SparkSpec {

  private val nCents = 8
  private val dim = 64
  private val prefixDim = 16

  private lazy val built: IvfIndex.Handle = {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivfmrl").toString
    IvfIndex.write(emb, "embedding", "vec_id", path,
      nCentroids = nCents, iters = 3, tier = Quantizer.mrl(prefixDim))
  }

  private def qVec(id: Long): Array[Double] =
    Tables.embeddings(spark, sf("sf0.001"))
      .filter(col("vec_id") === id).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray

  test("sidecars round-trip: centroids and prefix width reopen without a scan") {
    val h = built
    val reopened = IvfIndex.open(spark, h.path)
    assert(reopened.tier == Quantizer.Mrl(prefixDim))
    assert(reopened.centroids.length == h.centroids.length)
    (reopened.centroids, h.centroids).zipped.foreach { (a, b) =>
      assert(a.toSeq == b.toSeq) }
  }

  test("shortlist scan prunes directories AND columns: prefix read, vectors not") {
    val h = built
    val q0 = qVec(7L)
    val nProbe = 2
    // the unrefined MRL probe IS the shortlist stage
    val df = IvfIndex.probedTopK(spark, h, q0, nProbe, k = 20)
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, s"no file scan in plan:\n$plan")
    val schema = scans.map(_.requiredSchema.fieldNames.toSeq).head
    assert(schema.contains("pre") && schema.contains("pn") && schema.contains("id"),
      s"shortlist scan must read id+pre+pn: $schema")
    assert(!schema.contains("v") && !schema.contains("vn"),
      s"shortlist scan must NOT read the exact vectors: $schema")
    // directory pruning on top of the column pruning
    val cells = IvfIndex.probeCells(h, q0, nProbe)
    val expectFiles = cells.map { c =>
      new java.io.File(s"${h.path}/cid=$c").listFiles()
        .count(_.getName.endsWith(".parquet"))
    }.sum
    val seen = scans.map(_.metrics("numFiles").value).sum
    assert(seen == expectFiles,
      s"shortlist read $seen files, probed dirs hold $expectFiles")
    info(s"shortlist scan: ${schema.mkString(",")} over $seen/$expectFiles probed files " +
      s"($prefixDim/$dim of the vector bytes)")
  }

  test("probe-all + untruncated shortlist degenerates to the flat probed ranking") {
    val h = built
    val q0 = qVec(3L)
    val n = Tables.embeddings(spark, sf("sf0.001")).count().toInt
    val mrl = IvfIndex.probedTopK(spark, h, q0, nProbe = nCents, k = 10,
        shortlist = n)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val flat = IvfIndex.probedTopK(spark,
        h.copy(tier = Quantizer.Flat), q0, nProbe = nCents, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(mrl == flat, s"untruncated MRL must equal flat probed:\n$mrl\n$flat")
  }

  test("truncated shortlist keeps high recall vs the flat probed ranking") {
    val h = built
    val k = 10
    val recalls = Seq(3L, 7L, 11L).map { id =>
      val q = qVec(id)
      val mrl = IvfIndex.probedTopK(spark, h, q, nProbe = nCents, k = k,
          shortlist = 4 * k)
        .collect().map(_.getLong(0)).toSet
      val flat = IvfIndex.probedTopK(spark,
          h.copy(tier = Quantizer.Flat), q, nProbe = nCents, k = k)
        .collect().map(_.getLong(0))
      flat.count(mrl.contains).toDouble / k
    }
    info(f"MRL prefix=$prefixDim shortlist=40 recall@$k per query: " +
      recalls.map(r => f"$r%.2f").mkString(", "))
    // random iid coordinates are truncation's adversarial case — the
    // floor is above-chance, not near-exact (trained MRL embeddings
    // concentrate energy in the prefix and sit far above it)
    assert(recalls.forall(_ >= 0.3), s"below floor: $recalls")
  }

  test("calibrateShortlistMrl: minimal shortlist meeting the target, monotone curve") {
    val h = built
    val n = Tables.embeddings(spark, sf("sf0.001")).count().toInt
    val sample = Seq(3L, 7L, 11L).map(qVec)
    val target = 0.6
    val (chosen, curve) = IvfIndex.calibrate(spark, h, sample,
      k = 5, target = target, nProbe = nCents, maxShortlist = n)
    info(s"chosen shortlist=$chosen; curve=${curve.map { case (s, r) => f"$s:$r%.2f" }.mkString(", ")}")
    val m = curve.toMap
    assert(m(chosen) >= target)
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

  test("batch == sequential, bit-identical") {
    val h = built
    val qs = Seq(0L, 3L, 7L, 11L).map(qVec)
    val nProbe = 2; val k = 5; val shortlist = 20
    val batch = IvfIndex.probedTopKBatch(spark, h, qs, nProbe, k, shortlist)
    val seq = qs.map(q => IvfIndex.probedTopK(spark, h, q, nProbe, k, shortlist)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    (batch, seq).zipped.zipWithIndex.foreach { case ((b, s), i) =>
      assert(b == s, s"query $i diverged:\nbatch $b\nseq   $s")
    }
  }
}
