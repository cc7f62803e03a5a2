package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftKernel.{boundDoubles, column, expr, nullFreeOffset}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Native inner product over two ArrayType(Double) columns.
  *
  * The built-in `aggregate(zip_with(a, b, _*_), 0d, _+_)` evaluates its
  * lambdas through interpreted HigherOrderFunction machinery and allocates
  * an intermediate array per row — at d≈1400 dims that is the hot loop of
  * every search (SURVEY.md §7.3, reference IndexFlatIP scan src/app.py:78).
  * This kernel is one tight primitive loop over the two ArrayData (no
  * allocation) that stays inside whole-stage codegen.
  *
  * Bound query: when one argument is foldable (a search's literal query
  * vector), it is evaluated once into a `double[]`
  * ([[GraftKernel.boundDoubles]]) and each row is read against it — an
  * UnsafeArrayData row (a cached or shuffled vector) straight from its
  * memory after one word-wise check that it holds no null element. The
  * accumulation stays left to right, so every score is bit-identical to
  * the element-wise loop (a product's operand order changes no bit but a
  * NaN's payload, and Spark treats every NaN as one value). That loop
  * still serves two non-foldable arguments and a query with a null
  * element.
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

  @transient private lazy val boundLeft: Array[Double] = boundDoubles(left)
  @transient private lazy val boundRight: Array[Double] = boundDoubles(right)

  /** Σ x_i·y_i over the shorter length, accumulated left to right. Each
    * loop is its own method, so the JIT compiles and profiles the bound
    * and the element-wise loop apart: a plan that switches between them
    * does not deoptimize the other's compiled loop. */
  def compute(x: ArrayData, y: ArrayData): Double =
    if (boundLeft != null) dotBound(boundLeft, y)
    else if (boundRight != null) dotBound(boundRight, x)
    else dotElements(x, y)

  /** The element-wise loop: any two arrays, null elements skipped. */
  private def dotElements(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  /** The same sum against the bound query `q`. */
  private def dotBound(q: Array[Double], row: ArrayData): Double = {
    val n = math.min(q.length, row.numElements())
    var s = 0.0
    var i = 0
    val at = nullFreeOffset(row)
    if (at >= 0) {
      val base = row.asInstanceOf[UnsafeArrayData].getBaseObject
      while (i < n) {
        s += q(i) * Platform.getDouble(base, at + 8L * i)
        i += 1
      }
    } else {
      while (i < n) {
        if (!row.isNullAt(i)) s += q(i) * row.getDouble(i)
        i += 1
      }
    }
    s
  }
}

object DotProduct {
  /** Column-level inner product; inputs must be array<double> (cast first). */
  def dot(a: Column, b: Column): Column = column(DotProduct(expr(a), expr(b)))
}
