package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftKernel.{column, expr}
import org.apache.spark.sql.types._

/** Native Hamming distance between two packed signature arrays (xor +
  * popcount per word, summed) — the binary-quantization shortlist metric
  * (sim7 / the BQ serving tier).
  *
  * Replaces `aggregate(zip_with(a, b, (x, y) => bit_count(x ^ y)), 0L, +)`:
  * higher-order functions never enter whole-stage codegen, so the fold
  * re-evaluated its lambdas interpretively per word per candidate row —
  * pure overhead at shortlist volume (|corpus| × |queries| rows). The
  * kernel is one compiled loop over the words; Long.bitCount is the same
  * intrinsic `bit_count` lowers to, summed left-to-right like the fold
  * (integer math — order-exact either way). Null semantics match the HOF
  * chain: null array → null (zip_with/aggregate null out); mismatched
  * lengths zip to the shorter side like zip_with pads with null words
  * whose bit_count is null — the HOF sum would be NULL there, and the
  * kernel mirrors that (a length mismatch between two signatures of the
  * same fit cannot happen; spec-pinned anyway).
  */
case class HammingDistance(left: Expression, right: Expression)
  extends GraftKernel2[ArrayData, ArrayData] {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hamming"
  override protected def computeMayReturnNull: Boolean = true

  /** Null when lengths differ (the HOF chain's null-padded sum) or a
    * word is null; else Σ popcount(a_i ^ b_i). */
  def compute(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    s
  }
}

object HammingDistance {
  def hamming(a: Column, b: Column): Column = column(HammingDistance(expr(a), expr(b)))
}
