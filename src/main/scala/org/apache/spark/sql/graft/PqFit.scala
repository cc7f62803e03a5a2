package org.apache.spark.sql.graft

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftKernel.{column, expr}
import org.apache.spark.sql.types._

/** ONE Lloyd round of the k-means fit (graft.search.Search.pqCodebooks,
  * and `ivfCentroids` as its m = 1 case) for ALL m product-quantization
  * subspaces in a single aggregate pass over the full vectors.
  *
  * The aggregate carries the CURRENT codebooks as a reference object and,
  * per row, assigns every subspace slice to its nearest sub-centroid and
  * accumulates that slice's sums into the (subspace, cell) bucket — so a
  * whole round over all subspaces is ONE map-reduce job, the
  * single-pass-per-iteration shape FAISS's PQ trainer uses.
  *
  * The arithmetic, which the DuckDB oracle twins unroll:
  * - assignment is [[IvfAssign.nearest]] on the slice;
  * - exact mode sums [[VectorSum]]'s DECIMAL(28,6)-quantized longs with
  *   Math.addExact (order-independent, loud on overflow) and converts
  *   each cell back through the same decimal→double cast;
  * - non-exact mode sums native doubles (the same partition-order
  *   tolerance as VectorSum's fast mode).
  * PqFitSpec pins the fit bit for bit against an independent
  * per-cell groupBy + VectorSum twin in the test sources.
  *
  * Returns struct(s: array<double> of m·ksub·dsub cell sums, n:
  * array<long> of m·ksub cell counts); empty cells report n=0 and the
  * caller keeps the previous centroid. State is m·ksub·(dsub+1) words —
  * corpus-size-independent.
  */
case class PqFit(
    child: Expression,
    books: Array[Array[Array[Double]]], // m × ksub × dsub current codebooks
    exact: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PqFit.Buf] with ExpectsInputTypes with ValueEquality {

  import PqFit._

  private val m = books.length
  require(m > 0, "need at least one subspace")
  private val ksub = books(0).length
  require(ksub > 0 && books.forall(_.length == ksub),
    "ragged codebooks: every subspace needs the same cell count")
  private val dsub = books(0)(0).length
  require(dsub > 0 && books.forall(_.forall(_.length == dsub)),
    "ragged codebooks: every cell needs the same sub-dimension")

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = StructType(Seq(
    StructField("s", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("n", ArrayType(LongType, containsNull = false), nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "graft_pq_fit"

  @transient private lazy val cellNorms: Array[Array[Double]] = books.map(IvfAssign.norms)

  override def createAggregationBuffer(): Buf =
    new Buf(
      if (exact) new Array[Long](m * ksub * dsub) else null,
      if (exact) null else new Array[Double](m * ksub * dsub),
      new Array[Long](m * ksub))

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v == null) return buf
    val a = v.asInstanceOf[ArrayData]
    require(a.numElements() >= m * dsub,
      s"vector dim ${a.numElements()} below m*dsub = ${m * dsub} in graft_pq_fit")
    var j = 0
    while (j < m) {
      val off = j * dsub
      val best = IvfAssign.nearest(a, off, dsub, books(j), cellNorms(j))
      val cell = j * ksub + best
      buf.counts(cell) += 1
      val sOff = cell * dsub
      var i = 0
      while (i < dsub) {
        if (!a.isNullAt(off + i)) {
          if (exact)
            buf.longs(sOff + i) =
              Math.addExact(buf.longs(sOff + i), VectorSum.quantize(a.getDouble(off + i)))
          else buf.doubles(sOff + i) += a.getDouble(off + i)
        }
        i += 1
      }
      j += 1
    }
    buf
  }

  override def merge(b1: Buf, b2: Buf): Buf = {
    var i = 0
    if (exact) {
      while (i < b1.longs.length) {
        b1.longs(i) = Math.addExact(b1.longs(i), b2.longs(i)); i += 1
      }
    } else {
      while (i < b1.doubles.length) { b1.doubles(i) += b2.doubles(i); i += 1 }
    }
    i = 0
    while (i < b1.counts.length) { b1.counts(i) += b2.counts(i); i += 1 }
    b1
  }

  override def eval(buf: Buf): Any = {
    val s = new Array[Double](m * ksub * dsub)
    var i = 0
    while (i < s.length) {
      s(i) = if (exact) VectorSum.unquantize(buf.longs(i)) else buf.doubles(i)
      i += 1
    }
    InternalRow(new GenericArrayData(s), new GenericArrayData(buf.counts.clone()))
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val nS = m * ksub * dsub
    val bb = ByteBuffer.allocate(nS * 8 + buf.counts.length * 8)
    if (exact) buf.longs.foreach(bb.putLong) else buf.doubles.foreach(bb.putDouble)
    buf.counts.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val nS = m * ksub * dsub
    val buf = createAggregationBuffer()
    var i = 0
    if (exact) while (i < nS) { buf.longs(i) = bb.getLong; i += 1 }
    else while (i < nS) { buf.doubles(i) = bb.getDouble; i += 1 }
    i = 0
    while (i < buf.counts.length) { buf.counts(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): PqFit =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): PqFit =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PqFit =
    copy(child = newChildren.head)
}

object PqFit {

  /** Mutable state: cell sums (exactly one of longs/doubles live, fixed
    * at construction by the mode) + cell counts. */
  final class Buf(var longs: Array[Long], var doubles: Array[Double],
                  var counts: Array[Long])

  /** struct(s, n) aggregate of one all-subspaces Lloyd round. */
  def fit(vec: Column, books: Array[Array[Array[Double]]],
          exact: Boolean): Column =
    column(PqFit(expr(vec), books, exact).toAggregateExpression())
}
