package graft

import org.apache.spark.sql.functions._

/** Deployment-shaped fixture generator: `mult` salted replicas of a
  * fixture's `documents` table, written as a new fixture dir.
  *
  * WHY: the driver's scaled fixtures (sf10/sf100) replicate sf0.1
  * VERBATIM, so exact-dedup collapses any state built from them to ~1.9K
  * distinct keepers and the incremental state's corpus relations stay
  * sub-MB at every scale — the pruned-read path can never show an
  * end-to-end win there (BASELINE.md round-16, `graft.WarmBatchBench`).
  * A real 100-TB corpus is the opposite shape: mostly DISTINCT documents.
  * This tool produces that shape at fixture realism: replica 0 is the
  * original table byte-for-byte (probe docs included); replicas ≥ 1
  * interleave a deterministic per-(doc, replica) salt word after every
  * second token, which (a) keeps the text lowercase-alphabetic so the
  * quality gates see the same distribution (a 6-letter word + space is
  * 6/7 ≈ 0.86 alpha, at the en cohort's ~0.82 mean), and (b) makes every
  * replica GENUINELY distinct under the screen's word-bigram measure:
  * the salt destroys half the original bigrams and adds two unique ones
  * per insertion, so inter-replica Jaccard ≈ 0.2 ≪ τ = 0.8 — each
  * replica is a novel document, not a near-dup cluster member.
  *
  * Pure column HOFs (split / transform / flatten / md5) — no UDF; the
  * salt is a sliding 6-char window over the doc's digit-translated md5,
  * unique per (doc, replica), varying per position. doc_id stride is
  * `ceil(max_id + 1, 5)` so `new_id % 5 == old_id % 5` and the standard
  * base/delta split (doc_id % 5) partitions replicas exactly like their
  * originals.
  *
  * Usage: `runMain graft.SaltedFixture [srcDir] [outDir] [mult]`
  * — defaults /root/testdata/sf0.1, /tmp/sf_salted200, 200. Writes
  * `outDir/documents.parquet` only (the dedup/ingest paths read nothing
  * else). Skips generation if the output already exists.
  */
object SaltedFixture {

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/sf_salted200")
    val mult = args.lift(2).map(_.toInt).getOrElse(200)
    val spark = LocalSpark.session()

    val out = s"$outDir/documents.parquet"
    if (new java.io.File(out).exists()) {
      println(s"[salted] $out exists — skipping generation")
    } else {
      val t0 = System.nanoTime()
      val src = spark.read.parquet(s"$srcDir/documents.parquet")
      val stride = {
        val m = src.agg(max(col("doc_id"))).head.getLong(0) + 1
        m + ((5 - m % 5) % 5) // round up to a multiple of 5
      }
      val salted = src
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("replica", explode(sequence(lit(0L), lit(mult - 1L))))
        .withColumn("__h",
          translate(md5(concat_ws("", col("doc_id"), col("replica"))),
            "0123456789", "ghijklmnop"))
        .withColumn("text",
          when(col("replica") === 0, col("text")).otherwise(
            concat_ws(" ", flatten(expr(
              """transform(split(trim(text), '\\s+'),
                 (t, i) -> IF(i % 2 = 1,
                   array(t, substr(__h, (i * 5) % 27 + 1, 6)),
                   array(t)))""")))))
        .select(
          (col("replica") * stride + col("doc_id")).as("doc_id"),
          col("text"), col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars"))
      salted.write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(f"[salted] wrote $n%,d docs (mult=$mult, stride=$stride) " +
        f"to $out in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
