package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native residual-vector computation for IVF-PQ: exactly
  * `zip_with(v, element_at(centsLit, cid + 1), (x, c) -> x - c)` — the
  * within-cell displacement v − c_cid that residual-mode PQ encodes
  * (knnIvfPq / sim8) — as one compiled loop over the vector.
  *
  * Why it exists: the zip_with HOF re-evaluates its lambda (and the
  * element_at over the centroid-literal array) interpretively per
  * ELEMENT, and the un-persisted residual projection is re-computed by
  * every PQ codebook-fit pass plus the encode pass — pqIters + 1 full
  * interpreted sweeps over n·dim lambda bindings. The kernel holds the
  * centroid table as a plain double[][] reference and subtracts in a
  * tight loop; arithmetic (x − c, same order) is bit-identical (sim8's
  * oracle hash is the witness; CentroidDeltaSpec pins it differentially
  * against the HOF form).
  *
  * Null contract (= the zip_with/element_at form): null v → null, and a
  * null `cid` → null (element_at of a null index is null, and zip_with
  * over a null array is null) — never centroid 0. Equality is by value
  * over the centroid matrix, so canonicalization and subexpression
  * elimination match two equal deltas.
  */
case class CentroidDelta(vec: Expression, cid: Expression,
                         cents: Array[Array[Double]])
  extends Expression with ExpectsInputTypes {

  override def children: Seq[Expression] = Seq(vec, cid)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), IntegerType)
  override def dataType: DataType = ArrayType(DoubleType)
  override def nullable: Boolean = vec.nullable || cid.nullable
  override def prettyName: String = "graft_centroid_delta"

  override def equals(other: Any): Boolean = other match {
    case d: CentroidDelta =>
      vec == d.vec && cid == d.cid && java.util.Arrays.deepEquals(
        cents.asInstanceOf[Array[AnyRef]], d.cents.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * vec.hashCode() + cid.hashCode()) +
      java.util.Arrays.deepHashCode(cents.asInstanceOf[Array[AnyRef]])

  override def eval(input: InternalRow): Any = {
    val v = vec.eval(input)
    if (v == null) return null
    val c = cid.eval(input)
    if (c == null) null
    else CentroidDelta.compute(v.asInstanceOf[ArrayData], c.asInstanceOf[Int], cents)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vGen = vec.genCode(ctx)
    val cGen = cid.genCode(ctx)
    val cRef = ctx.addReferenceObj("cents", cents, "double[][]")
    val code = code"""
      ${vGen.code}
      ${cGen.code}
      boolean ${ev.isNull} = ${vGen.isNull} || ${cGen.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = org.apache.spark.sql.graft.CentroidDelta.compute(
          ${vGen.value}, ${cGen.value}, $cRef);
      }
    """
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CentroidDelta =
    copy(vec = newChildren(0), cid = newChildren(1))
}

object CentroidDelta {

  def compute(v: ArrayData, cid: Int, cents: Array[Array[Double]]): ArrayData = {
    val c = cents(cid)
    val n = v.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = v.getDouble(i) - c(i); i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Column form: v − cents(cid), element-wise. */
  def delta(vec: Column, cid: Column, cents: Array[Array[Double]]): Column =
    ExpressionUtils.column(CentroidDelta(
      ExpressionUtils.expression(vec), ExpressionUtils.expression(cid), cents))
}
