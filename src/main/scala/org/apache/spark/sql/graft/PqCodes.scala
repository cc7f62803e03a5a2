package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftKernel.{column, expr}
import org.apache.spark.sql.types._

/** Byte-tight PQ code storage: the array<int> code vector packed as ONE
  * m-byte binary value (valid for ksub ≤ 256 — the standard PQ code width),
  * making the "m BYTES per vector" compression claim literal on disk: a
  * 64-dim double vector (512 B, or 516+ B as a parquet repeated group) is
  * 8 bytes at m=8. ADC scoring runs straight over the bytes against the
  * broadcast per-query lookup table — no ArrayData indirection in the
  * serving hot loop, mirroring [[PackedVectors]]' packed-double path.
  *
  * Cites the reference's serving posture (FAISS IVFPQ stores uint8 code
  * matrices the same way; reference IndexFlatIP is the uncompressed
  * sibling, src/app.py:171).
  */
object PqCodes {
  def pack(codes: Column): Column = column(PackPqCodes(expr(codes)))
  def unpack(b: Column): Column = column(UnpackPqCodes(expr(b)))
  /** ADC score of a packed code row against the flattened lookup table
    * `tFlat` (m·ksub doubles, subspace-major: T[j][c] at j·ksub + c). */
  def adcPacked(b: Column, tFlat: Column, ksub: Int): Column =
    column(AdcPacked(expr(b), expr(tFlat), ksub))
}

case class PackPqCodes(child: Expression) extends GraftKernel1[ArrayData] {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(IntegerType))
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_pack_pq"

  def compute(xs: ArrayData): Array[Byte] = {
    val out = new Array[Byte](xs.numElements())
    var i = 0
    while (i < out.length) {
      val c = xs.getInt(i)
      if (c < 0 || c > 255)
        throw new IllegalArgumentException(s"PQ code $c outside [0,255] at $i")
      out(i) = c.toByte
      i += 1
    }
    out
  }
}

case class UnpackPqCodes(child: Expression) extends GraftKernel1[Array[Byte]] {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_unpack_pq"

  def compute(b: Array[Byte]): ArrayData = new GenericArrayData(b.map(_ & 0xff))
}

/** ADC lookup-sum over packed codes: the compressed serving hot loop. */
case class AdcPacked(left: Expression, right: Expression, ksub: Int)
  extends GraftKernel2[Array[Byte], ArrayData] {
  require(ksub > 0 && ksub <= 256, s"ksub $ksub outside (0,256]")
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_adc_packed"

  /** Sequential (left-to-right) lookup-sum — the same accumulation order
    * as the array<int> ADC path, so scores are bit-identical. */
  def compute(b: Array[Byte], t: ArrayData): Double = {
    var s = 0.0
    var j = 0
    while (j < b.length) {
      s += t.getDouble(j * ksub + (b(j) & 0xff))
      j += 1
    }
    s
  }
}
