package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftKernel.{column, expr}
import org.apache.spark.sql.types._

/** Nearest-centroid assignment (IVF coarse quantization) with the WHOLE
  * centroid matrix as one reference object — the [[LshSignatures]] pattern.
  *
  * The literal-expression formulation (`array_min(array(struct(d, cid) ×
  * nCentroids))`) inlines every centroid into the generated code: at
  * IVF-realistic centroid counts (√n ≈ 10⁴–10⁵ for a 100 TB corpus) that
  * blows past JVM constant-pool/method-size limits and falls out of
  * codegen. Here the matrix lives on the kernel object (broadcast once
  * per task with the serialized plan), the generated code is ONE call, and
  * the argmin is a tight primitive loop — centroid count no longer affects
  * code size.
  *
  * Arithmetic ([[IvfAssign.nearest]], shared with [[PqFit]]'s per-subspace
  * assignment) is kept bit-identical to the literal form (and to the
  * DuckDB oracle twin). Null array → null.
  */
case class IvfAssign(child: Expression, cents: Array[Array[Double]])
  extends GraftKernel1[ArrayData] {

  require(cents.nonEmpty, "need at least one centroid")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_ivf_assign"

  @transient private lazy val centNorms: Array[Double] = IvfAssign.norms(cents)

  def compute(v: ArrayData): Int = IvfAssign.nearest(v, 0, v.numElements(), cents, centNorms)
}

object IvfAssign {
  /** Column-level nearest-centroid id; input must be array<double>. */
  def assign(vec: Column, cents: Array[Array[Double]]): Column =
    column(IvfAssign(expr(vec), cents))

  /** |c|² per centroid, accumulated left to right — the `norms` argument
    * of [[nearest]]. */
  def norms(cents: Array[Array[Double]]): Array[Double] = cents.map { c =>
    var s = 0.0; var j = 0
    while (j < c.length) { s += c(j) * c(j); j += 1 }
    s
  }

  /** The one centroid argmin: the id of the centroid nearest the slice
    * `v[off, off + len)` by d = |v|² − 2·(v·c) + |c|², each dot
    * accumulated left to right, `norms` = [[norms]]`(cents)`. Strict `<`,
    * so equal distances keep the smallest centroid id (the struct-min
    * tiebreak); null elements contribute 0 (DotProduct's convention). */
  def nearest(v: ArrayData, off: Int, len: Int, cents: Array[Array[Double]],
              norms: Array[Double]): Int = {
    var vv = 0.0
    var i = 0
    while (i < len) {
      if (!v.isNullAt(off + i)) { val x = v.getDouble(off + i); vv += x * x }
      i += 1
    }
    var best = 0
    var bestD = Double.PositiveInfinity
    var cid = 0
    while (cid < cents.length) {
      val c = cents(cid)
      val n = math.min(len, c.length)
      var dotVC = 0.0
      var j = 0
      while (j < n) {
        if (!v.isNullAt(off + j)) dotVC += v.getDouble(off + j) * c(j)
        j += 1
      }
      val d = vv - 2.0 * dotVC + norms(cid)
      if (d < bestD) { bestD = d; best = cid }
      cid += 1
    }
    best
  }
}
