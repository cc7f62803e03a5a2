package graft.encode

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-embedding boundary (reference TextEmbedder, src/embed.py:25-41).
  * Torch inference is out of engine scope; the boundary is pluggable:
  * [[HashingEmbedder]] is the deterministic in-repo default (hashed
  * character-n-gram projection — platform-stable, no model weights), and
  * [[Embedders.precomputed]] slots in an embeddings table, matching the
  * reference's cache-first behavior (src/encode.py:63-66, 269-284).
  * Production model inference implements the same trait: [[OnnxEmbedder]]
  * (reflective optional-dependency ONNX session) is the wiring example,
  * [[TinyNnEmbedder]] the jar-free model-style proof of swappability.
  */
trait Embedder extends Serializable {
  def dim: Int
  /** Embed one string: queries on the driver, rows on the executors
    * ([[Embedders.fuseInto]]). L2-normalized. */
  def embed(text: String): Array[Double]
}

/** Deterministic hashed char-trigram embedder. Per-row computation only —
  * no cross-row state, so executor parallelism cannot change results
  * (SURVEY.md §7.4 gotcha 9). Trigram → bucket via a fixed 31-based rolling
  * hash; signed hashing (sign from the hash's next bit) keeps E[dot] ≈ 0
  * for unrelated texts; final L2 normalization.
  *
  * Input is normalized to ASCII FIRST (strip non-ASCII code units), THEN
  * lowercased, so non-ASCII text contributes nothing; the native
  * [[org.apache.spark.sql.graft.HashEmbed]] executor form follows the
  * same rule bit for bit.
  *
  * Weighted multi-column fusion (reference Σ wᵢ·embᵢ then normalize,
  * src/encode.py:286-304) is [[Embedders.fuseInto]] with a weight map.
  */
final case class HashingEmbedder(dim: Int = 64) extends Embedder {

  def embed(text: String): Array[Double] = {
    val v = new Array[Double](dim)
    val sb = new java.lang.StringBuilder(text.length)
    var p = 0
    while (p < text.length) {
      val ch = text.charAt(p); if (ch < 128) sb.append(ch); p += 1
    }
    val t = sb.toString.toLowerCase(java.util.Locale.ROOT)
    var i = 0
    while (i + 3 <= t.length) {
      var h = 17
      var j = i
      while (j < i + 3) { h = h * 31 + t.charAt(j); j += 1 }
      val b = math.floorMod(h, dim)
      val sign = if (math.floorMod(h / dim, 2) == 0) 1.0 else -1.0
      v(b) += sign
      i += 1
    }
    l2(v)
  }

  private def l2(v: Array[Double]): Array[Double] = {
    var n = 0.0; var i = 0
    while (i < v.length) { n += v(i) * v(i); i += 1 }
    if (n == 0) v else { val s = 1.0 / math.sqrt(n); v.map(_ * s) }
  }
}

object Embedders {

  /** S2 precomputed-embedding scan: attach embeddings by id join
    * (reference tensor-cache load, src/encode.py:269-284). Broadcast when
    * small; at scale both sides are bucketed/co-partitioned by id.
    */
  def precomputed(items: DataFrame, emb: DataFrame, itemId: String,
                  embId: String, embCol: String): DataFrame =
    items.join(emb.select(col(embId).as(itemId), col(embCol)), Seq(itemId), "left")

  /** E2 weighted multi-column embedding fusion + L2 norm (reference
    * src/encode.py:286-304): Σ wᵢ·emb(colᵢ), then normalize, as a
    * partition-local mapPartitions over the compiled embedder (reference
    * batches rows through the model the same way,
    * src/encode.py:289-305). O(text) per row, no interpreted lambdas;
    * null text treated as "". The one executor-side embedding path.
    *
    * FAST PATH: a [[HashingEmbedder]] over string columns embeds through
    * the native [[org.apache.spark.sql.graft.HashEmbed]] expression —
    * same per-row call chain (bit-identical vectors, HashEmbedSpec), but
    * in-plan: no external-Row round trip of every column, column pruning
    * preserved, whole-stage codegen kept. Model-backed embedders (ONNX)
    * and non-string columns keep the Row path.
    */
  def fuseInto(df: DataFrame, e: Embedder, weights: Map[String, Double],
               outCol: String): DataFrame = e match {
    case he: HashingEmbedder if weights.keys.forall(c =>
        df.schema(c).dataType == org.apache.spark.sql.types.StringType) =>
      df.withColumn(outCol, org.apache.spark.sql.graft.HashEmbed.embed(
        weights.toSeq.map { case (c, w) => (col(c), w) }, he.dim))
    case _ => fuseIntoRows(df, e, weights, outCol)
  }

  /** The general Row-path fusion — any [[Embedder]], any column type. */
  private[graft] def fuseIntoRows(df: DataFrame, e: Embedder,
                                  weights: Map[String, Double],
                                  outCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types._
    val outSchema = df.schema.add(outCol, ArrayType(DoubleType))
    val enc = RowEncoder.encoderFor(outSchema)
    val cols = weights.toSeq.map { case (c, w) => (df.schema.fieldIndex(c), w) }
    df.mapPartitions { rows =>
      rows.map { r =>
        val dim = e.dim
        val acc = new Array[Double](dim)
        cols.foreach { case (idx, w) =>
          val t = if (r.isNullAt(idx)) "" else r.get(idx).toString
          val v = e.embed(t)
          var i = 0
          while (i < dim) { acc(i) += w * v(i); i += 1 }
        }
        var n = 0.0; var i = 0
        while (i < dim) { n += acc(i) * acc(i); i += 1 }
        if (n > 0) { val s = 1.0 / math.sqrt(n); i = 0
          while (i < dim) { acc(i) *= s; i += 1 } }
        Row.fromSeq(r.toSeq :+ (acc.toSeq: Seq[Double]))
      }
    }(enc)
  }
}
