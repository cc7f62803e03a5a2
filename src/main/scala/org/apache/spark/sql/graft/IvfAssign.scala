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
  * Arithmetic is kept bit-identical to the literal form (and to the DuckDB
  * oracle twin): d = |v|² − 2·(v·c) + |c|², each dot accumulated
  * left-to-right, |c|² precomputed left-to-right per centroid, strict `<`
  * argmin so equal distances keep the smallest centroid id (the
  * struct-min tiebreak). Null array → null; null elements contribute 0
  * (DotProduct's convention).
  */
case class IvfAssign(child: Expression, cents: Array[Array[Double]])
  extends GraftKernel1[ArrayData] {

  require(cents.nonEmpty, "need at least one centroid")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_ivf_assign"

  // |c|² per centroid, left-to-right — matches the literal form's driver loop
  @transient private lazy val centNorms: Array[Double] = cents.map { c =>
    var s = 0.0; var j = 0
    while (j < c.length) { s += c(j) * c(j); j += 1 }
    s
  }

  def compute(v: ArrayData): Int = {
    val dim = v.numElements()
    // |v|² with DotProduct's null-element convention (nulls contribute 0)
    var vv = 0.0
    var i = 0
    while (i < dim) {
      if (!v.isNullAt(i)) { val x = v.getDouble(i); vv += x * x }
      i += 1
    }
    var best = 0
    var bestD = Double.PositiveInfinity
    var cid = 0
    while (cid < cents.length) {
      val c = cents(cid)
      val n = math.min(dim, c.length)
      var dotVC = 0.0
      var j = 0
      while (j < n) {
        if (!v.isNullAt(j)) dotVC += v.getDouble(j) * c(j)
        j += 1
      }
      val d = vv - 2.0 * dotVC + centNorms(cid)
      if (d < bestD) { bestD = d; best = cid }
      cid += 1
    }
    best
  }
}

object IvfAssign {
  /** Column-level nearest-centroid id; input must be array<double>. */
  def assign(vec: Column, cents: Array[Array[Double]]): Column =
    column(IvfAssign(expr(vec), cents))
}
