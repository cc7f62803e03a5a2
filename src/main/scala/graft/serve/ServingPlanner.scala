package graft.serve

import graft.search.Quantizer
import org.apache.spark.sql.SparkSession

/** ONE serving entry point over the compression ladder (VERDICT r10 ask
  * #7): the per-tier knob exists — `IvfIndex.calibrate` — but a user
  * shipping an index wants one question answered: "which tier, at which
  * nProbe and shortlist, meets my recall target inside my scan-bytes
  * budget?" [[choose]] answers it by MEASUREMENT, the CompressionCurve
  * way: every candidate configuration is run through the tier's own
  * batched serving path on a held-out query sample and graded against
  * the uncompressed index's exhaustive ranking — never a model of
  * recall, always the measured value.
  *
  * Selection order: tiers ascending by serving bytes/row (binary 1
  * bit/dim → PQ m bytes → MRL prefix → SQ8 → flat), configurations
  * within a tier lexicographically minimal in (nProbe, shortlist) —
  * probe count dominates serving IO (a probe reads ~nProbe/nCentroids
  * of the index), the shortlist only the refine gather. The first tier
  * meeting the target wins, so the result is the most compressed tier
  * that can do the job, at its cheapest passing knobs. Recall is
  * monotone in both knobs (the probed set and the refine candidate set
  * only grow), so a tier whose MAXIMAL configuration misses the target
  * is skipped after one measurement, and each knob is pinned by
  * `IvfIndex.calibrate`'s doubling + binary search.
  *
  * Infeasibility is VISIBLE (the calibrate contract): if no
  * in-budget tier reaches the target, choose throws with the best
  * measured (tier, recall) instead of returning a plan that silently
  * under-delivers. With the flat tier in budget any target ≤ 1.0 is
  * feasible (nProbe = nCentroids is the exact index), so a throw always
  * means the BUDGET excluded every tier that could pass.
  *
  * Calibration cost is sample-bounded and corpus-size-independent: each
  * measurement is one batched `IvfIndex.probedTopKBatch` call,
  * ≤ ~2·(log(nCentroids) + log(maxShortlist/k)) of them per tier — the
  * same few-hundred-queries-retune-a-100-TB-index shape as calibrate.
  */
object ServingPlanner {

  /** The written tiers of ONE corpus (same vectors, same centroid
    * geometry). Absent tiers are simply not candidates. */
  final case class Tiers(flat: IvfIndex.Handle,
                         sq: Option[IvfIndex.Handle] = None,
                         pq: Option[IvfIndex.Handle] = None,
                         bq: Option[IvfIndex.Handle] = None,
                         mrl: Option[IvfIndex.Handle] = None) {
    require(flat.tier == Quantizer.Flat, s"the flat slot holds a ${flat.tier} index")
  }

  /** A measured, deployable configuration. `curve` holds every
    * (config-label, recall) point measured on the way — the planner's
    * audit trail, CompressionCurve-style.
    *
    * `bytesPerRow` is the tier's SCAN cost: bytes per candidate row the
    * shortlist scan reads (the quantity the budget constrains).
    * `refineBytesPerRow` is the ADDITIONAL full-precision bytes per row
    * the tier must keep ON STORAGE for its refine step — non-zero for
    * the shortlisted tiers (binary, mrl), whose refine gathers the flat
    * `v` column for shortlist ids only (a k-bounded id-gather, not a
    * scan, so it costs ~nothing per query — but a deployment that DROPS
    * the flat column to save space cannot run these tiers at all). */
  final case class Plan(tier: String, nProbe: Int, shortlist: Option[Int],
                        bytesPerRow: Int, refineBytesPerRow: Int,
                        measuredRecall: Double,
                        curve: Seq[(String, Double)])

  /** A tier's planner label, scan bytes/row at `dim`, and whether it is
    * served through a refine shortlist. */
  private def profile(t: Quantizer, dim: Int): (String, Int, Boolean) = t match {
    case Quantizer.Bq(_) => ("binary", ((dim + 63) / 64) * 8, true)
    case Quantizer.Pq(books) => ("pq", books.length, false)
    case Quantizer.Mrl(prefixDim) => ("mrl", prefixDim * 8, true)
    case Quantizer.Sq(_, _) => ("sq8", dim, false)
    case Quantizer.Flat => ("flat", dim * 8, false)
  }

  /** `scanBudgetBytesPerRow` bounds the bytes/row the serving SCAN reads
    * — the per-query IO story, which is what distinguishes the tiers at
    * 100 TB (a probe reads ~nProbe/nCentroids of the index at this
    * width). It is deliberately NOT a total-storage budget: shortlisted
    * tiers (binary, mrl) additionally require the full-precision vector
    * column on storage for their bounded refine gather —
    * [[Plan.refineBytesPerRow]] reports that storage obligation, and
    * callers sizing DISK rather than scan IO must add it. (Named
    * `memoryBudgetBytesPerRow` through round 11; renamed because a
    * budget that "fit" binary at 8 B/row never could have dropped the
    * flat column and still refined.) */
  def choose(spark: SparkSession, tiers: Tiers, dim: Int,
             sample: Seq[Array[Double]], k: Int, recallTarget: Double,
             scanBudgetBytesPerRow: Int,
             maxShortlist: Int = 0): Plan = {
    require(sample.nonEmpty, "planner needs at least one sample query")
    require(recallTarget > 0.0 && recallTarget <= 1.0,
      s"recall target $recallTarget outside (0,1]")
    require(k >= 1, s"k must be positive: $k")
    val nCells = tiers.flat.centroids.length
    val maxSl = if (maxShortlist > 0) maxShortlist else 8 * k
    require(maxSl >= k, s"maxShortlist $maxSl below k=$k")

    // ground truth: the uncompressed index, exhaustive probe
    val truth: IndexedSeq[Set[Long]] =
      IvfIndex.probedTopKBatch(spark, tiers.flat, sample, nCells, k)
        .map(_.map(_._1).toSet)

    val cands = (tiers.bq ++ tiers.pq ++ tiers.mrl ++ tiers.sq ++ Seq(tiers.flat))
      .toSeq.map(h => (h, profile(h.tier, dim))).sortBy(_._2._2)
    val inBudget = cands.filter(_._2._2 <= scanBudgetBytesPerRow)
    if (inBudget.isEmpty)
      throw new IllegalStateException(
        s"no serving tier fits $scanBudgetBytesPerRow scan bytes/row — cheapest " +
          s"available is ${cands.map { case (_, (n, b, _)) => s"$n=$b" }.mkString(", ")}")

    val curve = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var best: Option[(String, Double)] = None
    inBudget.foreach { case (h, (name, bytes, shortlisted)) =>
      val measured = scala.collection.mutable.Map.empty[(Int, Int), Double]
      def recallAt(np: Int, sl: Int): Double = measured.getOrElseUpdate((np, sl), {
        val r = IvfIndex.recall(
          IvfIndex.probedTopKBatch(spark, h, sample, np, k, shortlist = sl), truth)
        curve += (s"$name nProbe=$np" + (if (shortlisted) s" shortlist=$sl" else "")) -> r
        r
      })
      val slMax = if (shortlisted) maxSl else 0
      // one measurement at the tier's maximal knobs: recall is monotone
      // in both, so a failing ceiling rules the whole tier out
      val ceiling = recallAt(nCells, slMax)
      if (best.forall(_._2 < ceiling)) best = Some((name, ceiling))
      if (ceiling >= recallTarget) {
        val np = IvfIndex.minimalLevel(1, nCells, recallTarget)(recallAt(_, slMax))
        val sl = if (shortlisted) IvfIndex.minimalLevel(k, maxSl, recallTarget)(recallAt(np, _)) else 0
        return Plan(name, np, if (shortlisted) Some(sl) else None,
          bytes, if (shortlisted) dim * 8 else 0, recallAt(np, sl), curve.toSeq)
      }
    }
    val (bn, br) = best.getOrElse(("none", 0.0))
    throw new IllegalStateException(
      f"recall target $recallTarget%.3f infeasible within " +
        f"$scanBudgetBytesPerRow scan bytes/row: best in-budget tier is $bn " +
        f"at $br%.3f — raise the budget (the flat tier at nProbe=nCentroids " +
        "is exact) or lower the target")
  }
}
