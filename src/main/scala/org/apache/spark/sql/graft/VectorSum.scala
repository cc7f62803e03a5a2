package org.apache.spark.sql.graft

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftKernel.{column, expr}
import org.apache.spark.sql.types._

/** Native element-wise SUM over an ArrayType(Double) column — one
  * aggregation row per group instead of one per (group, dimension): the
  * per-partition state is ONE array per group and the shuffle carries
  * #groups·#partitions rows. The binary-quantization thresholds
  * (graft.search.Search.bqThresholds) sum through it.
  *
  * `exact = true` reproduces the DECIMAL(28,6) sum BIT-IDENTICALLY while
  * summing primitive longs: each element is quantized exactly as Spark's
  * double→DECIMAL(28,6) cast (BigDecimal.valueOf — the shortest decimal
  * representation — setScale(6, HALF_UP), the same rounding DuckDB's
  * ::DECIMAL(28,6) applies), the UNSCALED values are summed with
  * Math.addExact (loud on overflow, exact and order-independent like
  * decimal addition), and eval converts each sum through
  * BigDecimal(unscaled, 6).doubleValue — the same conversion as
  * DECIMAL→DOUBLE cast. So exact-mode results cannot drift from the
  * DuckDB oracle twin's decimal arithmetic, regardless of partitioning.
  *
  * `exact = false` sums native doubles (per-partition sequential order +
  * merge), where summation-order fp-noise is tolerated.
  *
  * Null semantics: null arrays are skipped (like sum over the exploded
  * rows); null ELEMENTS contribute 0 (vectors never carry null elements).
  * Ragged arrays within a group fail loudly rather than mis-aligning.
  */
case class VectorSum(
    child: Expression,
    exact: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VectorSum.Buf] with ExpectsInputTypes with ValueEquality {

  import VectorSum._

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_vector_sum"

  override def createAggregationBuffer(): Buf = new Buf(null, null)

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v == null) return buf
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (exact) {
      if (buf.longs == null) buf.longs = new Array[Long](n)
      require(buf.longs.length == n,
        s"ragged vectors in graft_vector_sum: ${buf.longs.length} vs $n")
      var i = 0
      while (i < n) {
        if (!a.isNullAt(i))
          buf.longs(i) = Math.addExact(buf.longs(i), quantize(a.getDouble(i)))
        i += 1
      }
    } else {
      if (buf.doubles == null) buf.doubles = new Array[Double](n)
      require(buf.doubles.length == n,
        s"ragged vectors in graft_vector_sum: ${buf.doubles.length} vs $n")
      var i = 0
      while (i < n) {
        if (!a.isNullAt(i)) buf.doubles(i) += a.getDouble(i)
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Buf, b2: Buf): Buf = {
    if (exact) {
      if (b2.longs == null) return b1
      if (b1.longs == null) { b1.longs = b2.longs; return b1 }
      require(b1.longs.length == b2.longs.length,
        s"ragged vectors in graft_vector_sum merge")
      var i = 0
      while (i < b1.longs.length) {
        b1.longs(i) = Math.addExact(b1.longs(i), b2.longs(i)); i += 1
      }
    } else {
      if (b2.doubles == null) return b1
      if (b1.doubles == null) { b1.doubles = b2.doubles; return b1 }
      require(b1.doubles.length == b2.doubles.length,
        s"ragged vectors in graft_vector_sum merge")
      var i = 0
      while (i < b1.doubles.length) { b1.doubles(i) += b2.doubles(i); i += 1 }
    }
    b1
  }

  override def eval(buf: Buf): Any = {
    if (exact) {
      if (buf.longs == null) return null
      val out = new Array[Double](buf.longs.length)
      var i = 0
      while (i < out.length) { out(i) = unquantize(buf.longs(i)); i += 1 }
      new GenericArrayData(out)
    } else {
      if (buf.doubles == null) return null
      new GenericArrayData(buf.doubles.clone())
    }
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val arrLen = if (exact) {
      if (buf.longs == null) -1 else buf.longs.length
    } else {
      if (buf.doubles == null) -1 else buf.doubles.length
    }
    val bb = ByteBuffer.allocate(4 + math.max(arrLen, 0) * 8)
    bb.putInt(arrLen)
    if (arrLen > 0) {
      if (exact) buf.longs.foreach(bb.putLong)
      else buf.doubles.foreach(bb.putDouble)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    if (n < 0) new Buf(null, null)
    else if (exact) new Buf(Array.fill(n)(bb.getLong), null)
    else new Buf(null, Array.fill(n)(bb.getDouble))
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorSum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VectorSum =
    copy(child = newChildren.head)
}

object VectorSum {

  /** Mutable aggregation state: exactly one of the two arrays is live
    * (longs for exact mode, doubles for fast mode); both null until the
    * first row fixes the dimensionality. */
  final class Buf(var longs: Array[Long], var doubles: Array[Double])

  private val Scale = 6

  /** Spark's double→DECIMAL(28,6) cast as an unscaled long:
    * BigDecimal.valueOf (shortest decimal representation) quantized
    * HALF_UP at scale 6. longValueExact is loud on overflow (|v| beyond
    * ~9.2e12), where the decimal path would have kept going. The one
    * exact-sum quantization, shared with [[PqFit]]. */
  private[graft] def quantize(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(Scale, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** DECIMAL(28,6)→DOUBLE cast of an exact unscaled-long sum. */
  private[graft] def unquantize(l: Long): Double =
    java.math.BigDecimal.valueOf(l, Scale).doubleValue()

  /** Element-wise sum of an array<double> column as an aggregate Column.
    * `exact` = bit-identical DECIMAL(28,6) arithmetic (order-independent);
    * otherwise native double sums. */
  def sums(vec: Column, exact: Boolean): Column =
    column(VectorSum(expr(vec), exact).toAggregateExpression())
}
