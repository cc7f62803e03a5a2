package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftKernel.{column, expr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Packed vector format: an ArrayType(Double) vector serialized as ONE
  * little-endian binary value. Parquet writes/reads one byte array per row
  * instead of d individual repeated values — ~10× faster index
  * write/scan at d≈800 — and the dot product runs straight over the bytes
  * (no ArrayData indirection). This is the on-disk serving format of the
  * vector index (FAISS stores flat float arrays the same way —
  * reference IndexFlatIP, src/app.py:171); the array<double> form remains
  * the interchange/SQL-facing form.
  */
object PackedVectors {
  def pack(a: Column): Column = column(PackDoubles(expr(a)))
  def unpack(b: Column): Column = column(UnpackDoubles(expr(b)))
  def dotPacked(b: Column, q: Column): Column = column(DotPacked(expr(b), expr(q)))
}

case class PackDoubles(child: Expression) extends GraftKernel1[ArrayData] {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_pack"

  def compute(xs: ArrayData): Array[Byte] = {
    val n = xs.numElements()
    val out = new Array[Byte](n * 8)
    var i = 0
    while (i < n) {
      Platform.putDouble(out, Platform.BYTE_ARRAY_OFFSET + i * 8L, xs.getDouble(i))
      i += 1
    }
    out
  }
}

case class UnpackDoubles(child: Expression) extends GraftKernel1[Array[Byte]] {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_unpack"

  def compute(b: Array[Byte]): ArrayData = {
    val out = new Array[Double](b.length / 8)
    var i = 0
    while (i < out.length) {
      out(i) = Platform.getDouble(b, Platform.BYTE_ARRAY_OFFSET + i * 8L)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Inner product of a packed (binary) vector with an array<double> vector
  * (typically a literal query vector): the serving-path hot loop. */
case class DotPacked(left: Expression, right: Expression)
  extends GraftKernel2[Array[Byte], ArrayData] {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot_packed"

  def compute(b: Array[Byte], q: ArrayData): Double = {
    val n = math.min(b.length / 8, q.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += Platform.getDouble(b, Platform.BYTE_ARRAY_OFFSET + i * 8L) * q.getDouble(i)
      i += 1
    }
    s
  }
}
