package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftKernel.{column, expr}
import org.apache.spark.sql.types._

/** Native inner product over two ArrayType(Double) columns.
  *
  * The built-in `aggregate(zip_with(a, b, _*_), 0d, _+_)` evaluates its
  * lambdas through interpreted HigherOrderFunction machinery and allocates
  * an intermediate array per row — at d≈1400 dims that is the hot loop of
  * every search (SURVEY.md §7.3, reference IndexFlatIP scan src/app.py:78).
  * This kernel is one tight primitive loop over the two ArrayData (no
  * allocation) that stays inside whole-stage codegen.
  *
  * Null semantics: null array → null; null ELEMENTS contribute 0 (fused
  * vectors never contain null elements — encoders emit explicit zeros).
  */
case class DotProduct(left: Expression, right: Expression)
  extends GraftKernel2[ArrayData, ArrayData] {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  /** Σ x_i·y_i over the shorter length, accumulated left to right. */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }
}

object DotProduct {
  /** Column-level inner product; inputs must be array<double> (cast first). */
  def dot(a: Column, b: Column): Column = column(DotProduct(expr(a), expr(b)))
}
