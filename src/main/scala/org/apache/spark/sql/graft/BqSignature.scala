package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftKernel.{column, expr}
import org.apache.spark.sql.types._

/** Binary-quantization signature with the threshold vector as one
  * reference object — the [[IvfAssign]] pattern.
  *
  * The built-ins formulation (a `when(v_i > th_i, 1L << i)` chain summed
  * per 64-dim word) inlines one branch per DIMENSION into the generated
  * code: at the engine's fused-vector widths (405+ dims) that bloats the
  * generated method toward the JIT limits and pays per-branch dispatch.
  * Here the thresholds live on the kernel object, the generated code
  * is ONE call, and packing is a tight primitive loop — dimension count
  * no longer affects code size.
  *
  * Bit semantics are identical to the HOF twin (the tests'
  * `ReferenceTwins.bqSignaturesHof`, parity spec-asserted): bit i set iff
  * v_i > threshold_i (strict), bit i lives at word i/64, position i mod 64
  * (bit 63 = the long's sign bit), null elements set no bit.
  */
case class BqSignature(child: Expression, thresholds: Array[Double])
  extends GraftKernel1[ArrayData] {

  require(thresholds.nonEmpty, "need at least one threshold")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_bq_signature"

  def compute(v: ArrayData): ArrayData = {
    val dim = thresholds.length
    val words = new Array[Long]((dim + 63) >>> 6)
    val n = math.min(dim, v.numElements())
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i) && v.getDouble(i) > thresholds(i))
        words(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    new GenericArrayData(words)
  }
}

object BqSignature {
  /** Column-level packed signature; input must be array<double>. */
  def pack(vec: Column, thresholds: Array[Double]): Column =
    column(BqSignature(expr(vec), thresholds))
}
