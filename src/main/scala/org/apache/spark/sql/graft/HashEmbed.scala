package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftKernel.{column, expr, NullPolicy, PassThrough}
import org.apache.spark.sql.types._

/** Native weighted hashed-trigram text embedding: exactly
  * [[graft.encode.Embedders.fuseInto]]'s per-row math — per column,
  * `HashingEmbedder.embed` (ASCII strip → lowercase → signed trigram
  * hashing → L2), then Σ wᵢ·vᵢ in declaration order, then one final L2 —
  * as ONE in-plan expression.
  *
  * Why it exists: the mapPartitions form decodes EVERY column of every
  * row to external `Row` objects through a RowEncoder (and re-encodes
  * them), just to read the few text columns — that conversion defeats
  * column pruning below an engine's encode projection and costs more
  * than the embedding itself on wide item tables (flip1's items carry
  * ten columns; the fuseInto stage measured 0.35 s/pass at 20 K rows
  * where the three text columns alone embed in ~0.1 s). The expression
  * keeps the scan columnar, participates in whole-stage codegen, and
  * calls THE SAME `HashingEmbedder.embed` driver method per column, so
  * vectors are bit-identical by construction (HashEmbedSpec pins the
  * parity differentially; the flip1/rest1/rest2 oracle hashes are the
  * cross-engine witness).
  *
  * Null/empty contract (= the Row path's): a null text contributes
  * `embed("")` = the zero vector; an all-zero accumulation skips the
  * final normalize and returns zeros.
  */
case class HashEmbed(override val children: Seq[Expression], dim: Int, weights: Seq[Double])
  extends GraftKernelN {
  require(children.nonEmpty && children.size == weights.size,
    s"HashEmbed needs one weight per text column: ${children.size} vs ${weights.size}")

  override def inputTypes: Seq[AbstractDataType] =
    Seq.fill(children.size)(StringType)
  override def dataType: DataType = ArrayType(DoubleType)
  override def prettyName: String = "graft_hash_embed"
  override def nullPolicy: NullPolicy = PassThrough

  private lazy val weightsArr = weights.toArray

  /** Per-row fused embed: same call chain as the Row path — one
    * `HashingEmbedder.embed` per column (null → ""), weighted
    * accumulation in order, final L2 — so every double matches the
    * mapPartitions form bit-for-bit. */
  def compute(texts: Array[Any]): ArrayData = {
    val e = graft.encode.HashingEmbedder(dim)
    val acc = new Array[Double](dim)
    var c = 0
    while (c < texts.length) {
      val t = if (texts(c) == null) "" else texts(c).toString
      val v = e.embed(t)
      val w = weightsArr(c)
      var i = 0
      while (i < dim) { acc(i) += w * v(i); i += 1 }
      c += 1
    }
    var n = 0.0
    var i = 0
    while (i < dim) { n += acc(i) * acc(i); i += 1 }
    if (n > 0) {
      val s = 1.0 / math.sqrt(n)
      i = 0
      while (i < dim) { acc(i) *= s; i += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(acc)
  }
}

object HashEmbed {
  /** Column form: weighted fusion over (text column, weight) pairs. */
  def embed(cols: Seq[(Column, Double)], dim: Int): Column =
    column(HashEmbed(cols.map(c => expr(c._1)), dim, cols.map(_._2)))
}
