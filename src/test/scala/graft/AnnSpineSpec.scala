package graft

import graft.search.{Quantizer, Search}
import graft.serve.IvfIndex
import org.apache.spark.sql.functions._

/** One score per tier: for each of the five quantizers, the in-memory
  * spine ([[Search.knn]]) and the serving index's batched probe
  * ([[IvfIndex.probedTopKBatch]]) at an exhaustive probe, over the SAME
  * pre-fitted quantizer, return the same rows in the same order with the
  * same scores — without and with a refine shortlist. Serving excludes
  * each query's own row through its per-query predicate, the spine's
  * exclusion rule.
  */
class AnnSpineSpec extends SparkSpec {

  private val nCents = 4
  private val k = 10
  private val qIds = Seq(0L, 1L, 2L)

  private lazy val emb =
    Tables.embeddings(spark, sf("sf0.001")).select(col("vec_id"), col("embedding"))

  private lazy val queries: Seq[Array[Double]] = {
    val rows = emb.filter(col("vec_id").isin(qIds: _*)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    qIds.map(rows)
  }

  /** A fit that returns the tier `fit` produces on the whole table. */
  private def pinned(fit: Quantizer.Fit): Quantizer.Fit = {
    val rows = Search.vectorRows(emb, "embedding", "vec_id")
    val t = try fit(rows, 64) finally rows.unpersist()
    (_, _) => t
  }

  private val fits = Seq(
    "flat" -> Quantizer.flat,
    "pq" -> Quantizer.pq(m = 8, ksub = 16, pqIters = 2),
    "sq8" -> Quantizer.sq8,
    "binary" -> Quantizer.binary,
    "mrl" -> Quantizer.mrl(prefixDim = 16))

  for ((name, fit) <- fits)
    test(s"$name: spine == exhaustive serving probe, without and with a shortlist") {
      val tier = pinned(fit)
      val path = java.nio.file.Files.createTempDirectory(s"graft-spine-$name").toString
      val h = IvfIndex.write(emb, "embedding", "vec_id", path,
        nCentroids = nCents, iters = 2, tier = tier)
      val notSelf = qIds.map(id => col("id") =!= id)
      for (shortlist <- Seq(0, 3 * k)) {
        val spine = Search.knn(emb, "embedding", "vec_id", qIds, k, tier,
            shortlist = shortlist)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("score"),
            r.getLong(r.fieldIndex("rk"))))
          .sortBy(r => (r._1, r._4))
        val served = IvfIndex.probedTopKBatch(spark, h, queries, nProbe = nCents, k,
          shortlist, preds = notSelf)
        qIds.zip(served).foreach { case (q, got) =>
          val mine = spine.filter(_._1 == q).map(r => (r._2, r._3)).toSeq
          assert(mine.size == k, s"$name q=$q shortlist=$shortlist: ${mine.size} rows")
          assert(mine == got, s"$name q=$q shortlist=$shortlist:\nspine  $mine\nserved $got")
        }
      }
    }
}
