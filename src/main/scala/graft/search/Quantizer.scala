package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PqCodes
import scala.reflect.runtime.universe.TypeTag

/** The compression tier of an ANN pass, stated once for the in-memory
  * spine ([[Search.knn]]) and the IVF serving index
  * ([[graft.serve.IvfIndex]]). A tier declares:
  *  - its fit ([[Quantizer.Fit]]) over the (id, v) rows;
  *  - its code columns over `v` ([[columns]]);
  *  - its query side, built once per query on the driver: the query
  *    vector and norm, the ADC table, the SQ8 table, the signature words
  *    or the prefix and its norm;
  *  - its score of a row against that side, before the shared 5-dp
  *    rounding.
  * The spine broadcasts the sides as a (q_id, qs) frame ([[sides]]);
  * serving inlines one side as a literal ([[sideLit]]). Both rank with the
  * same [[score]] expression, so the two paths agree row for row.
  */
sealed trait Quantizer {
  /** Code columns, each over `v` or an earlier code column, in order. */
  def columns: Seq[(String, Column)]
  /** The row's score against the query-side column `qs`. */
  def score(qs: Column): Column
  def sideLit(q: Array[Double]): Column
  /** One (q_id, qs) row per (id, query vector). */
  def sides(spark: SparkSession, qs: Seq[(Long, Array[Double])]): DataFrame

  /** `df` with the code columns added. */
  final def encode(df: DataFrame): DataFrame =
    columns.foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }

  /** How a shortlist reports its first-pass (rounded) score. */
  def firstPass(score: Column): Column = score.as("pscore")
}

object Quantizer {

  /** A tier whose query side is a Scala value of type `S`. */
  sealed abstract class Sided[S: TypeTag] extends Quantizer {
    def side(q: Array[Double]): S
    final def sideLit(q: Array[Double]): Column = typedLit(side(q))
    final def sides(spark: SparkSession, qs: Seq[(Long, Array[Double])]): DataFrame =
      spark.createDataFrame(qs.map { case (id, q) => (id, side(q)) }).toDF("q_id", "qs")
  }

  /** Cosine of the (vector, norm) side against a (vector, norm) column
    * pair: the query's dot accumulates left to right, its norm is
    * sqrt(Σ q²) left to right — bit-identical to `Search.cosine`. */
  private def cosine(qs: Column, v: String, vn: String): Column =
    Search.dot(qs.getField("_1"), col(v)) / (qs.getField("_2") * col(vn))

  private def withNorm(q: Array[Double]): (Seq[Double], Double) =
    (q.toSeq, math.sqrt(Search.ip(q, q)))

  /** The exact tier: cosine over `v` and its norm `vn` — also the refine
    * score of every other tier. */
  case object Flat extends Sided[(Seq[Double], Double)] {
    def columns: Seq[(String, Column)] = Seq("vn" -> Search.l2Norm(col("v")))
    def side(q: Array[Double]): (Seq[Double], Double) = withNorm(q)
    def score(qs: Column): Column = cosine(qs, "v", "vn")
  }

  /** Product quantization: `codes` holds m packed bytes per row
    * ([[Search.pqCodes]]); the side is the ADC table
    * T[j][c] = ⟨q_j, codebook_j[c]⟩, flattened subspace-major (the layout
    * the AdcPacked loop reads), and the score its lookup-sum. The table's
    * left-to-right accumulation is pinned by the sim4/sim5/sim8 hashes. */
  final case class Pq(books: Array[Array[Array[Double]]]) extends Sided[Seq[Double]] {
    private def ksub = books(0).length
    private def dsub = books(0)(0).length
    def columns: Seq[(String, Column)] =
      Seq("codes" -> PqCodes.pack(Search.pqCodes(col("v"), books, books.length * dsub)))
    def side(q: Array[Double]): Seq[Double] = {
      val t = new Array[Double](books.length * ksub)
      for (j <- books.indices; c <- 0 until ksub) {
        val cent = books(j)(c)
        var s = 0.0; var i = 0
        while (i < dsub) { s += q(j * dsub + i) * cent(i); i += 1 }
        t(j * ksub + c) = s
      }
      t.toSeq
    }
    def score(qs: Column): Column = PqCodes.adcPacked(col("codes"), qs, ksub)
  }

  /** SQ8, the near-exact tier: `sq` holds dim packed bytes per row
    * ([[Search.sqCodes]]); the side is the table
    * T[i][c] = (mn_i + c·Δ_i/255)·q_i — the dequantization grid folded into
    * the byte lookup (op order pinned by the sim6 hash) — and the score
    * its lookup-sum: PQ with dsub = 1 and ksub = 256. */
  final case class Sq(mins: Array[Double], maxs: Array[Double]) extends Sided[Seq[Double]] {
    def columns: Seq[(String, Column)] =
      Seq("sq" -> PqCodes.pack(Search.sqCodes(col("v"), mins, maxs)))
    def side(q: Array[Double]): Seq[Double] = {
      val t = new Array[Double](mins.length * 256)
      for (i <- mins.indices) {
        val mn = mins(i); val d = maxs(i) - mn
        var c = 0
        while (c < 256) { t(i * 256 + c) = (mn + c * d / 255.0) * q(i); c += 1 }
      }
      t.toSeq
    }
    def score(qs: Column): Column = PqCodes.adcPacked(col("sq"), qs, 256)
  }

  /** Binary, the 64× tier: `sig` holds ⌈dim/64⌉ BIGINT words per row
    * ([[Search.bqSignatures]]); the side is the query's own signature —
    * the driver twin of the kernel: strict >, 64 dimensions per word, bit
    * 63 in the sign — and the score the NEGATED Hamming distance, so
    * (score desc, id asc) is (Hamming asc, id asc). Its ranking is coarse:
    * serve it with a shortlist, which reports the distance as `hamming`. */
  final case class Bq(thresholds: Array[Double]) extends Sided[Seq[Long]] {
    def columns: Seq[(String, Column)] =
      Seq("sig" -> Search.bqSignatures(col("v"), thresholds))
    def side(q: Array[Double]): Seq[Long] = q.indices.grouped(64).map { idxs =>
      idxs.foldLeft(0L) { (w, i) => if (q(i) > thresholds(i)) w | (1L << (i % 64)) else w }
    }.toSeq
    def score(qs: Column): Column = -Search.hammingDistance(col("sig"), qs)
    override def firstPass(score: Column): Column = (-score).cast("long").as("hamming")
  }

  /** Matryoshka prefix, the fit-free tier: `pre` is the vector's first
    * prefixDim coordinates and `pn` its norm; the side is the query's
    * prefix and its norm, and the score the same cosine as the refine
    * over the prefix — truncation is the tier's only error. Serve it with
    * a shortlist. */
  final case class Mrl(prefixDim: Int) extends Sided[(Seq[Double], Double)] {
    require(prefixDim > 0, s"prefixDim must be positive: $prefixDim")
    def columns: Seq[(String, Column)] =
      Seq("pre" -> slice(col("v"), 1, prefixDim), "pn" -> Search.l2Norm(col("pre")))
    def side(q: Array[Double]): (Seq[Double], Double) = withNorm(q.take(prefixDim))
    def score(qs: Column): Column = cosine(qs, "pre", "pn")
  }

  /** How a pass fits its tier: from the (id, v) rows and the vector
    * dimension. A fit that ignores both pins a pre-fitted tier. */
  type Fit = (DataFrame, Int) => Quantizer

  val flat: Fit = (_, _) => Flat

  /** `exactMeans` sums in exact DECIMAL(28,6), bit-reproducible across
    * engines and partitionings (the oracle twins' discipline). */
  def pq(m: Int, ksub: Int, pqIters: Int, exactMeans: Boolean = false): Fit = {
    require(ksub <= 256, s"ksub $ksub exceeds the one-byte code width")
    (rows, dim) => Pq(Search.pqCodebooks(rows, "v", "id", dim, m, ksub, pqIters, exactMeans))
  }

  val sq8: Fit = (rows, dim) => {
    val (mins, maxs) = Search.sqParams(rows, "v", dim)
    Sq(mins, maxs)
  }

  val binary: Fit = (rows, dim) => Bq(Search.bqThresholds(rows, "v", dim))

  def mrl(prefixDim: Int): Fit = { val t = Mrl(prefixDim); (_, _) => t }
}
