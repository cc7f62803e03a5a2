package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftKernel.{column, expr}
import org.apache.spark.sql.types._

/** Native residual-vector computation for IVF-PQ: exactly
  * `zip_with(v, element_at(centsLit, cid + 1), (x, c) -> x - c)` — the
  * within-cell displacement v − c_cid that residual-mode PQ encodes
  * (the knn spine's residual coarse stage, sim8) — as one compiled loop
  * over the vector.
  *
  * Why it exists: the zip_with HOF re-evaluates its lambda (and the
  * element_at over the centroid-literal array) interpretively per
  * ELEMENT, and the un-persisted residual projection is re-computed by
  * every PQ codebook-fit pass plus the encode pass — pqIters + 1 full
  * interpreted sweeps over n·dim lambda bindings. The kernel holds the
  * centroid table as a plain double[][] and subtracts in a tight loop;
  * arithmetic (x − c, same order) is bit-identical (sim8's oracle hash is
  * the witness; CentroidDeltaSpec pins it differentially against the HOF
  * form).
  *
  * Null contract (= the zip_with/element_at form): null v → null, and a
  * null `cid` → null (element_at of a null index is null, and zip_with
  * over a null array is null) — never centroid 0.
  */
case class CentroidDelta(vec: Expression, cid: Expression,
                         cents: Array[Array[Double]])
  extends GraftKernel2[ArrayData, Int] {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), IntegerType)
  override def dataType: DataType = ArrayType(DoubleType)
  override def prettyName: String = "graft_centroid_delta"

  def compute(v: ArrayData, cid: Int): ArrayData = {
    val c = cents(cid)
    val n = v.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = v.getDouble(i) - c(i); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

object CentroidDelta {
  /** Column form: v − cents(cid), element-wise. */
  def delta(vec: Column, cid: Column, cents: Array[Array[Double]]): Column =
    column(CentroidDelta(expr(vec), expr(cid), cents))
}
