package graft.serve

import graft.{LocalSpark, Tables}
import org.apache.spark.sql.functions.col

/** Serving latency per tier for BASELINE.md: build the cid-partitioned
  * IVF index over SPARK_GRAFT_SF_DIR's embeddings once per tier (flat,
  * PQ, SQ8, binary, MRL), then time, after a warm-up, single-query
  * probes at nProbe=2 and at the exhaustive probe (= full scan), and the
  * batched path over 16 queries. Prints p50 and p99 per tier and probe
  * shape. The pruned probe's win is IO-proportional: it reads
  * nProbe/nCentroids of the files (IvfServeSpec asserts the file counts;
  * this main measures the wall-clock).
  *
  * Run: `SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.serve.IvfServeBench"`.
  */
object IvfServeBench {
  private val NCents = 32
  private val NProbe = 2
  private val K = 10

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSpark.session()
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 16L)
      .select("vec_id", "embedding").collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toArray).toSeq
    // (tier, its fit, the refine shortlist it is served with)
    val tiers = Seq(
      ("flat", IvfIndex.flat, 0),
      ("pq", IvfIndex.pq(m = 8, ksub = 16, pqIters = 3), 0),
      ("sq8", IvfIndex.sq8, 0),
      ("binary", IvfIndex.binary, 40),
      ("mrl", IvfIndex.mrl(prefixDim = 16), 40))
    println(f"[ivf] sf=$sfDir n=${emb.count()} cells=$NCents k=$K")
    tiers.foreach { case (name, fit, shortlist) =>
      val path = java.nio.file.Files.createTempDirectory(s"graft-ivf-$name").toString
      val t0 = System.nanoTime()
      val h = IvfIndex.write(emb, "embedding", "vec_id", path, NCents, iters = 3,
        tier = fit)
      println(f"[ivf] $name build ${(System.nanoTime() - t0) / 1e9}%.1f s ($path)")
      def report(shape: String, rounds: Int)(op: Int => Unit): Unit = {
        (0 until 3).foreach(op) // warm-up
        val ms = (0 until rounds).map { i =>
          val s0 = System.nanoTime(); op(i); (System.nanoTime() - s0) / 1e6
        }.sorted
        def pct(p: Double) = ms(math.max(0, math.ceil(p * ms.size).toInt - 1))
        println(f"[ivf] $name $shape: p50 ${pct(0.5)}%.1f ms, p99 ${pct(0.99)}%.1f ms " +
          s"(${ms.size} samples)")
      }
      def single(nProbe: Int)(i: Int): Unit = IvfIndex.probedTopK(spark, h,
        queries(i % queries.size), nProbe, K, shortlist).collect()
      report(s"single nProbe=$NProbe", 32)(single(NProbe))
      report(s"single nProbe=$NCents", 16)(single(NCents))
      report(s"batch P=${queries.size} nProbe=$NProbe", 8) { _ =>
        IvfIndex.probedTopKBatch(spark, h, queries, NProbe, K, shortlist)
      }
    }
    spark.stop()
  }
}
