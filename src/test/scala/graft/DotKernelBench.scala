package graft

import graft.search.Search
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The `graft_dot` kernel's A/B against its built-in form: cached rows of
  * random 984-dim vectors (the benchmark fixture's fused width), scored
  * against literal query vectors, one aggregate job per pass. Prints one
  * JSON line per variant with the p50/p25/p75 of `passes` timed passes
  * after `warm` untimed ones:
  *
  *  - `scan`: the same job with the per-row work `size(v)` only (the scan
  *    floor the scoring variants share);
  *  - `hof1`/`hof7`: the built-in `aggregate(zip_with(…))` twin,
  *    1 and 7 queries per row;
  *  - `dot1`/`dot7`: `graft_dot`, 1 and 7 queries per row (7 is the
  *    recall sweep's batch).
  *
  * Run it on two checkouts to compare kernel versions (the HOF and scan
  * lines are the drift control):
  * {{{
  * SPARK_GRAFT_CPUS=4 sbt "Test/runMain graft.DotKernelBench [rows] [dim] [passes]"
  * }}}
  */
object DotKernelBench {
  def main(args: Array[String]): Unit = {
    val rows = args.lift(0).fold(20000)(_.toInt)
    val dim = args.lift(1).fold(984)(_.toInt)
    val passes = args.lift(2).fold(15)(_.toInt)
    val warm = 3
    val spark = LocalSpark.session(logLevel = "ERROR")
    val r = new scala.util.Random(5)
    val qs = Seq.fill(7)(Array.fill(dim)(r.nextDouble() * 2 - 1))
    val vecs = spark.range(rows).repartition(spark.sparkContext.defaultParallelism)
      .select(col("id"), transform(sequence(lit(1), lit(dim)),
        i => sin(col("id") * 7.0 + i * 0.37)).as("v"))
      .persist()
    vecs.count()
    def time(score: Column): Seq[Double] = (0 until warm + passes).map { _ =>
      val t0 = System.nanoTime()
      vecs.agg(sum(score)).collect()
      (System.nanoTime() - t0) / 1e6
    }.drop(warm).sorted
    def report(name: String, score: Column): Unit = {
      val t = time(score)
      def at(p: Double) = t(math.min(t.size - 1, (p * t.size).toInt))
      println(f"""{"variant":"$name","rows":$rows,"dim":$dim,"passes":$passes,""" +
        f""""p25_ms":${at(0.25)}%.1f,"p50_ms":${at(0.5)}%.1f,"p75_ms":${at(0.75)}%.1f}""")
    }
    def sumOf(f: Array[Double] => Column, n: Int) = qs.take(n).map(f).reduce(_ + _)
    report("scan", size(col("v")).cast("double"))
    report("hof1", sumOf(q => ReferenceTwins.dotHof(col("v"), typedLit(q)), 1))
    report("dot1", sumOf(q => Search.dot(col("v"), typedLit(q)), 1))
    report("hof7", sumOf(q => ReferenceTwins.dotHof(col("v"), typedLit(q)), 7))
    report("dot7", sumOf(q => Search.dot(col("v"), typedLit(q)), 7))
    vecs.unpersist()
    spark.stop()
  }
}
