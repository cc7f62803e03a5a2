package graft

import graft.search.Quantizer
import graft.serve.{IvfIndex, ServingPlanner}
import org.apache.spark.sql.functions._

/** One-call serving configuration (VERDICT r10 ask #7): choose() must
  * return a MEASURED plan meeting the recall target inside the memory
  * budget, prefer the most compressed passing tier, and make
  * infeasibility visible instead of under-delivering silently.
  */
class ServingPlannerSpec extends SparkSpec {

  private val nCents = 8
  private val dim = 64
  private val k = 5

  // paths kept alongside the write-returned handles so the cold-open
  // test can re-open the SAME written index from disk
  private lazy val tierPaths: Map[String, String] = {
    def tmp(tag: String) =
      java.nio.file.Files.createTempDirectory(s"graft-plan-$tag").toString
    Map("flat" -> tmp("flat"), "sq" -> tmp("sq"), "pq" -> tmp("pq"),
      "bq" -> tmp("bq"), "mrl" -> tmp("mrl"))
  }

  private lazy val tiers: ServingPlanner.Tiers = {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    ServingPlanner.Tiers(
      flat = IvfIndex.write(emb, "embedding", "vec_id", tierPaths("flat"),
        nCentroids = nCents, iters = 3),
      sq = Some(IvfIndex.write(emb, "embedding", "vec_id", tierPaths("sq"),
        nCentroids = nCents, iters = 3, tier = Quantizer.sq8)),
      pq = Some(IvfIndex.write(emb, "embedding", "vec_id", tierPaths("pq"),
        nCentroids = nCents, iters = 3,
        tier = Quantizer.pq(m = 8, ksub = 16, pqIters = 3))),
      bq = Some(IvfIndex.write(emb, "embedding", "vec_id", tierPaths("bq"),
        nCentroids = nCents, iters = 3, tier = Quantizer.binary)),
      mrl = Some(IvfIndex.write(emb, "embedding", "vec_id", tierPaths("mrl"),
        nCentroids = nCents, iters = 3, tier = Quantizer.mrl(prefixDim = 16))))
  }

  private lazy val sample: Seq[Array[Double]] = {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    Seq(3L, 7L, 11L, 15L).map { id =>
      emb.filter(col("vec_id") === id).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toArray
    }
  }

  test("choose meets the target, verified by an independent re-measurement") {
    val plan = ServingPlanner.choose(spark, tiers, dim, sample, k,
      recallTarget = 0.6, scanBudgetBytesPerRow = dim * 8, maxShortlist = 64)
    info(s"plan: ${plan.tier} nProbe=${plan.nProbe} shortlist=${plan.shortlist} " +
      f"bytes=${plan.bytesPerRow} recall=${plan.measuredRecall}%.3f")
    assert(plan.measuredRecall >= 0.6)
    assert(plan.bytesPerRow <= dim * 8)
    // re-measure the chosen config OURSELVES against the exact index —
    // the plan's recall claim must reproduce, not just be self-reported
    val truth = IvfIndex.probedTopKBatch(spark, tiers.flat, sample, nCents, k)
      .map(_.map(_._1).toSet)
    val got: IndexedSeq[Seq[(Long, Double)]] = plan.tier match {
      case "binary" => IvfIndex.probedTopKBatch(spark, tiers.bq.get, sample,
        plan.nProbe, k, plan.shortlist.get)
      case "pq" => IvfIndex.probedTopKBatch(spark, tiers.pq.get, sample,
        plan.nProbe, k)
      case "mrl" => IvfIndex.probedTopKBatch(spark, tiers.mrl.get, sample,
        plan.nProbe, k, plan.shortlist.get)
      case "sq8" => IvfIndex.probedTopKBatch(spark, tiers.sq.get, sample,
        plan.nProbe, k)
      case "flat" => IvfIndex.probedTopKBatch(spark, tiers.flat, sample,
        plan.nProbe, k)
      case t => fail(s"unknown tier $t")
    }
    val re = (got, truth).zipped.map { (g, e) =>
      g.count(t => e(t._1)).toDouble / e.size
    }.sum / sample.size
    assert(math.abs(re - plan.measuredRecall) < 1e-12,
      s"plan recall ${plan.measuredRecall} does not reproduce: $re")
  }

  test("the planner prefers the most compressed passing tier") {
    // a lax target everything passes at full knobs: the winner must be the
    // CHEAPEST tier by bytes/row that measured over the bar
    val plan = ServingPlanner.choose(spark, tiers, dim, sample, k,
      recallTarget = 0.2, scanBudgetBytesPerRow = dim * 8, maxShortlist = 64)
    // binary is 8 bytes at dim=64 and its shortlist=64 ceiling clears 0.2
    // on this corpus (BqServeSpec's floor is 0.2 at shortlist 40)
    assert(plan.bytesPerRow <= 16,
      s"lax target should pick a compressed tier, got ${plan.tier} at ${plan.bytesPerRow} B/row")
  }

  test("a tight memory budget excludes heavy tiers from the plan") {
    val plan = ServingPlanner.choose(spark, tiers, dim, sample, k,
      recallTarget = 0.2, scanBudgetBytesPerRow = 16, maxShortlist = 64)
    assert(plan.bytesPerRow <= 16, s"budget violated: ${plan.bytesPerRow}")
    assert(Set("binary", "pq").contains(plan.tier), s"tier ${plan.tier} over budget")
  }

  test("perfect recall within a full budget resolves to the exact flat tier") {
    val plan = ServingPlanner.choose(spark, tiers, dim, sample, k,
      recallTarget = 1.0, scanBudgetBytesPerRow = dim * 8, maxShortlist = 8)
    // flat at nProbe=nCentroids IS the truth ranking — always feasible
    assert(plan.measuredRecall == 1.0)
  }

  test("shortlisted tiers declare their refine storage obligation") {
    // the budget is SCAN bytes/row, not total storage: a plan on a
    // shortlisted tier (binary/mrl) must report the flat full-precision
    // column it still needs on storage for the refine gather, and
    // non-shortlisted tiers must report zero
    val plan = ServingPlanner.choose(spark, tiers, dim, sample, k,
      recallTarget = 0.2, scanBudgetBytesPerRow = 16, maxShortlist = 64)
    if (plan.shortlist.isDefined)
      assert(plan.refineBytesPerRow == dim * 8,
        s"shortlisted tier ${plan.tier} must carry the flat refine column: " +
          s"${plan.refineBytesPerRow}")
    else
      assert(plan.refineBytesPerRow == 0,
        s"non-shortlisted tier ${plan.tier} gathers nothing: ${plan.refineBytesPerRow}")
    val exact = ServingPlanner.choose(spark, tiers, dim, sample, k,
      recallTarget = 1.0, scanBudgetBytesPerRow = dim * 8, maxShortlist = 8)
    assert(exact.shortlist.isDefined == (exact.refineBytesPerRow == dim * 8),
      s"refine obligation must track shortlisting: ${exact.tier} " +
        s"shortlist=${exact.shortlist} refine=${exact.refineBytesPerRow}")
  }

  test("infeasibility throws with the best measured alternative, never under-delivers") {
    val e = intercept[IllegalStateException] {
      ServingPlanner.choose(spark, tiers, dim, sample, k,
        recallTarget = 0.6, scanBudgetBytesPerRow = 4, maxShortlist = 64)
    }
    assert(e.getMessage.contains("bytes/row"))
  }

  test("the plan survives the write/read boundary: cold open post-recover (r12 ask #5)") {
    // a serving process restarting against the persisted index: sweep
    // each directory with recover() (the crash-safe lifecycle's entry
    // point — a clean directory must report nothing to repair), re-open
    // every tier COLD from its sidecars, and prove the planner reaches
    // the SAME plan with the SAME measured recall as the in-session
    // write handles — the reference's cache-first index lifecycle
    // (src/eval/experiment.py:60-76 loads the persisted index before
    // re-encoding anything).
    val warmPlan = ServingPlanner.choose(spark, tiers, dim, sample, k,
      recallTarget = 0.6, scanBudgetBytesPerRow = dim * 8, maxShortlist = 64)
    tierPaths.values.foreach { p =>
      assert(IvfIndex.recover(spark, p).isEmpty,
        s"clean index dir $p claimed recovery work")
    }
    val cold = ServingPlanner.Tiers(
      flat = IvfIndex.open(spark, tierPaths("flat")),
      sq = Some(IvfIndex.open(spark, tierPaths("sq"))),
      pq = Some(IvfIndex.open(spark, tierPaths("pq"))),
      bq = Some(IvfIndex.open(spark, tierPaths("bq"))),
      mrl = Some(IvfIndex.open(spark, tierPaths("mrl"))))
    // the sidecar round-trip must preserve centroid geometry bit-for-bit
    // (any drift would silently re-route probes)
    assert(cold.flat.centroids.map(_.toSeq).toSeq ==
      tiers.flat.centroids.map(_.toSeq).toSeq,
      "flat centroids changed across the write/read boundary")
    val coldPlan = ServingPlanner.choose(spark, cold, dim, sample, k,
      recallTarget = 0.6, scanBudgetBytesPerRow = dim * 8, maxShortlist = 64)
    assert((coldPlan.tier, coldPlan.nProbe, coldPlan.shortlist) ==
      (warmPlan.tier, warmPlan.nProbe, warmPlan.shortlist),
      s"cold plan $coldPlan != warm plan $warmPlan")
    assert(coldPlan.measuredRecall == warmPlan.measuredRecall,
      "measured recall drifted across the write/read boundary")
    // and the chosen configuration actually SERVES from the cold handles:
    // run the plan's batched path and re-grade it against the cold exact
    // index — the planner's number must reproduce on the reopened index
    val truth = IvfIndex.probedTopKBatch(spark, cold.flat, sample, nCents, k)
      .map(_.map(_._1).toSet)
    val served: IndexedSeq[Seq[(Long, Double)]] = coldPlan.tier match {
      case "binary" => IvfIndex.probedTopKBatch(spark, cold.bq.get, sample,
        coldPlan.nProbe, k, coldPlan.shortlist.get)
      case "pq" => IvfIndex.probedTopKBatch(spark, cold.pq.get, sample,
        coldPlan.nProbe, k)
      case "mrl" => IvfIndex.probedTopKBatch(spark, cold.mrl.get, sample,
        coldPlan.nProbe, k, coldPlan.shortlist.get)
      case "sq8" => IvfIndex.probedTopKBatch(spark, cold.sq.get, sample,
        coldPlan.nProbe, k)
      case "flat" => IvfIndex.probedTopKBatch(spark, cold.flat, sample,
        coldPlan.nProbe, k)
      case t => fail(s"unknown tier $t")
    }
    val re = (served, truth).zipped.map { (g, e) =>
      g.count(t => e(t._1)).toDouble / e.size
    }.sum / sample.size
    assert(math.abs(re - coldPlan.measuredRecall) < 1e-12,
      s"cold-served recall $re does not reproduce the plan's ${coldPlan.measuredRecall}")
  }
}
