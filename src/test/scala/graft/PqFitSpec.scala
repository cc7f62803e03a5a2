package graft

import graft.search.{Quantizer, Search}
import graft.serve.IvfIndex
import org.apache.spark.sql.functions._

/** The one k-means fit (the fused PqFit aggregate behind pqCodebooks and
  * ivfCentroids) must reproduce the per-cell groupBy k-means trajectory
  * BIT FOR BIT: same assignment arithmetic, same exact-decimal sums, same
  * means, same empty-cell retention — on real embeddings and on an
  * adversarial corpus with duplicate rows and tie-prone geometry. The
  * sim3–sim5/sim8/d9 oracle hashes witness the same equality
  * cross-engine; this spec witnesses it against the independent
  * `ReferenceTwins.ivfCentroidsGroupBy` loop.
  */
class PqFitSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 64

  /** pqCodebooks as m independent fits: the groupBy twin per slice. */
  private def perSubspace(df: org.apache.spark.sql.DataFrame, m: Int,
                          ksub: Int, iters: Int,
                          exact: Boolean): Array[Array[Array[Double]]] = {
    val dsub = dim / m
    (0 until m).map { j =>
      val sub = df.select(col("vec_id"),
        slice(col("embedding").cast("array<double>"), j * dsub + 1, dsub)
          .as("__sub"))
      ReferenceTwins.ivfCentroidsGroupBy(sub, "__sub", "vec_id", ksub, iters, exact)
    }.toArray
  }

  private def assertSame(a: Array[Array[Array[Double]]],
                         b: Array[Array[Array[Double]]]): Unit = {
    assert(a.length == b.length)
    for (j <- a.indices; c <- a(j).indices) {
      assert(java.util.Arrays.equals(a(j)(c), b(j)(c)),
        s"codebook cell ($j, $c) diverges:\n  per-subspace ${a(j)(c).mkString(",")}" +
          s"\n  fused        ${b(j)(c).mkString(",")}")
    }
  }

  test("fused fit == per-subspace fit, exact means, real embeddings") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
    val fused = Search.pqCodebooks(e, "embedding", "vec_id", dim,
      m = 8, ksub = 16, iters = 3, exactMeans = true)
    assertSame(perSubspace(e, 8, 16, 3, exact = true), fused)
  }

  test("fused fit == per-subspace fit at a different geometry (m=4, ksub=8)") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
    val fused = Search.pqCodebooks(e, "embedding", "vec_id", dim,
      m = 4, ksub = 8, iters = 2, exactMeans = true)
    assertSame(perSubspace(e, 4, 8, 2, exact = true), fused)
  }

  /** 12 rows over 3 distinct vectors — most cells stay EMPTY (retention
    * path) and assignments tie (strict-< lowest-cid tiebreak path). */
  private def adversarial = (0L until 12L).map { i =>
    (i, Array.tabulate(dim)(d => ((i % 3) + d % 2).toDouble))
  }.toDF("vec_id", "embedding")

  test("adversarial: duplicates, ties and empty cells keep parity") {
    val df = adversarial
    val fused = Search.pqCodebooks(df, "embedding", "vec_id", dim,
      m = 8, ksub = 16, iters = 3, exactMeans = true)
    assertSame(perSubspace(df, 8, 16, 3, exact = true), fused)
  }

  test("codebooks are partitioning-invariant (exact mode)") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
    val a = Search.pqCodebooks(e.repartition(7), "embedding", "vec_id", dim,
      m = 8, ksub = 16, iters = 2, exactMeans = true)
    val b = Search.pqCodebooks(e.repartition(1), "embedding", "vec_id", dim,
      m = 8, ksub = 16, iters = 2, exactMeans = true)
    assertSame(a, b)
  }

  test("ivfCentroids is the m = 1 fit: == the groupBy twin, exact and double means") {
    def same(df: org.apache.spark.sql.DataFrame, n: Int, iters: Int, exact: Boolean): Unit =
      assertSame(Array(ReferenceTwins.ivfCentroidsGroupBy(df, "embedding", "vec_id",
          n, iters, exact)),
        Array(Search.ivfCentroids(df, "embedding", "vec_id", n, iters, exact)))
    val e = Tables.embeddings(spark, sf("sf0.001"))
    same(e, 16, 3, exact = true)
    same(adversarial, 16, 3, exact = true)
    // double sums are bit-equal only in one summation order: one partition
    same(e.repartition(1), 16, 3, exact = false)
  }

  test("no non-null vector: every k-means caller raises the fit's named error") {
    val empty = Seq((1L, null: Array[Double]), (2L, null: Array[Double]))
      .toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft-pqfit-empty").toString
    val errors = Seq(
      intercept[IllegalArgumentException](
        IvfIndex.write(empty, "embedding", "vec_id", path, nCentroids = 2, iters = 1)),
      intercept[IllegalArgumentException](
        Search.semanticDedup(empty, "embedding", "vec_id", nCentroids = 2, iters = 1, tau = 0.9)),
      intercept[IllegalArgumentException](
        Search.knn(empty, "embedding", "vec_id", Seq(1L), k = 1, Quantizer.flat,
          Some(Search.Coarse(nCentroids = 2, iters = 1, nProbe = 1)))))
    spark.catalog.clearCache()
    errors.foreach(e => assert(e.getMessage.contains("no non-null vectors to fit"), e.getMessage))
  }
}
