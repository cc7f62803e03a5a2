package graft.eval

import graft.{LocalSpark, Tables}
import graft.search.Search
import org.apache.spark.sql.functions._

/** Recall-vs-compression artifact for the ANN portfolio: every serving
  * tier (exact flat, SQ8, PQ at two code widths, IVF probe sweep, and
  * combined IVF+PQ) measured against the exact inner-product ranking on
  * the SAME corpus and query set — the FAISS-style "which index do I
  * build" tradeoff table, produced by the engine's own operators
  * ([[Search.knnSq]]/[[Search.knnPq]]/[[Search.knnIvf]]/
  * [[Search.knnIvfPq]], the sim3–sim6 pipelines). Recall\@k = mean over
  * queries of |ANN top-k ∩ exact top-k| / k; ties and rounding follow
  * each operator's own serving semantics (5-dp round, id tiebreak).
  *
  * bytes/vec counts what the SERVING scan reads per row (the IVF rows
  * also read only ~nProbe/nCentroids of the table — IO share is listed
  * separately); the exact side is dim doubles. Prints the RECALL.md
  * "compression tiers" table.
  */
object CompressionCurve {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session()
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dim = 64
    val k = 10
    val nQ = 16
    val qIds = (0 until nQ).map(_.toLong)

    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val rows = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    println(s"[compression] corpus ${rows.size} vectors, $nQ queries, k=$k")

    // exact top-k per query under BOTH metrics (driver ground truth, same
    // id tiebreak): SQ8/PQ/IVF+PQ approximate the INNER PRODUCT, while
    // knnIvf's probed tail scores exact COSINE — each tier is graded
    // against the metric its operator actually serves
    def exactTop(cos: Boolean): Map[Long, Seq[Long]] = qIds.map { q =>
      val qv = rows(q)
      val qn = math.sqrt(qv.map(x => x * x).sum)
      q -> rows.toSeq.filter(_._1 != q).map { case (id, v) =>
        var s = 0.0; var i = 0
        while (i < dim) { s += qv(i) * v(i); i += 1 }
        (id, if (cos) s / (qn * math.sqrt(v.map(x => x * x).sum)) else s)
      }.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
    }.toMap
    val topIp = exactTop(cos = false)
    val topCos = exactTop(cos = true)

    def recallOf(df: org.apache.spark.sql.DataFrame,
                 truth: Map[Long, Seq[Long]] = topIp): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
      qIds.map(q => truth(q).count(got.getOrElse(q, Set.empty).contains)
        .toDouble / k).sum / nQ
    }

    case class Tier(name: String, bytes: Int, ioShare: String, recall: Double)
    val tiers = Seq(
      Tier("exact flat (sim1 class)", dim * 8, "1.00", 1.0),
      Tier("SQ8 (sim6)", dim, "1.00",
        recallOf(Search.knnSq(emb, "embedding", "vec_id", qIds, dim, k))),
      Tier("PQ m=8 ksub=16 (sim4 wide)", 8, "1.00",
        recallOf(Search.knnPq(emb, "embedding", "vec_id", qIds, dim,
          m = 8, ksub = 16, iters = 3, k = k))),
      Tier("PQ m=4 ksub=8 (sim4)", 4, "1.00",
        recallOf(Search.knnPq(emb, "embedding", "vec_id", qIds, dim,
          m = 4, ksub = 8, iters = 2, k = k)))) ++
      Seq(
        // binary: 1 bit/dim (ONE long at dim=64) Hamming shortlist of 4k
        // + exact refine — graded vs cosine (what the refine serves)
        Tier("binary+refine shortlist=4k (sim7)", dim / 8, "1.00",
          recallOf(Search.knnBinary(emb, "embedding", "vec_id", qIds, dim,
            k = k, shortlist = 4 * k), topCos))) ++
      // Matryoshka prefix truncation: NO fit stage — the coarse code is
      // the vector's own first p coordinates (column projection); graded
      // vs cosine (what the refine serves). Random iid coordinates are
      // the adversarial case (no MRL training concentrating energy in
      // the prefix), so these recalls are the technique's FLOOR.
      Seq(16, 32).map(p =>
        Tier(s"MRL prefix=$p + refine shortlist=4k (sim9)", p * 8, "1.00",
          recallOf(Search.knnMrl(emb, "embedding", "vec_id", qIds,
            prefixDim = p, k = k, shortlist = 4 * k), topCos))) ++
      Seq(1, 2, 4, 8).map(p =>
        Tier(s"IVF nProbe=$p/8 (sim3)", dim * 8, f"${p / 8.0}%.2f",
          recallOf(Search.knnIvf(emb, "embedding", "vec_id", qIds,
            nCentroids = 8, iters = 3, nProbe = p, k = k), topCos))) ++
      Seq(
      Tier("IVF+PQ nProbe=2 m=8 (sim5)", 8, "0.25",
        recallOf(Search.knnIvfPq(emb, "embedding", "vec_id", qIds, dim,
          nCentroids = 8, iters = 3, nProbe = 2, m = 8, ksub = 16,
          pqIters = 3, k = k))),
      // residual encoding at the SAME byte budget — the sim8-vs-sim5 gain
      Tier("IVF+PQ residual nProbe=2 m=8 (sim8)", 8, "0.25",
        recallOf(Search.knnIvfPq(emb, "embedding", "vec_id", qIds, dim,
          nCentroids = 8, iters = 3, nProbe = 2, m = 8, ksub = 16,
          pqIters = 3, k = k, residual = true))))

    println("| tier | bytes/vec | IO share | recall@10 |")
    println("|---|---|---|---|")
    tiers.foreach(t =>
      println(f"| ${t.name} | ${t.bytes} | ${t.ioShare} | ${t.recall}%.3f |"))
    // sanity floors: SQ8 is the near-exact tier; PQ trades recall for 64×
    require(tiers(1).recall >= 0.85, s"SQ8 recall ${tiers(1).recall} below near-exact")
    require(tiers.forall(_.recall > 0.1), "a tier fell to chance")
    spark.stop()
  }
}
