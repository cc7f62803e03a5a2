package org.apache.spark.sql.graft

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftKernel.{column, expr}
import org.apache.spark.sql.types._

/** ONE Lloyd iteration for ALL m product-quantization subspaces in a
  * single aggregate pass over the full vectors.
  *
  * The per-subspace formulation ran m separate k-means fits, each
  * `iters` assign+aggregate jobs over the same rows — m·iters scheduled
  * jobs and shuffles for state that is tiny (m·ksub·dsub cells). This
  * aggregate carries the CURRENT codebooks as a reference object and, per
  * row, assigns every subspace slice to its nearest sub-centroid and
  * accumulates that slice's sums into the (subspace, cell) bucket — so a
  * whole iteration over all subspaces is ONE map-reduce round, the same
  * single-pass-per-iteration shape FAISS's PQ trainer uses.
  *
  * ARITHMETIC PARITY with the per-subspace path (and therefore with the
  * DuckDB oracle twins that unroll it) is exact, cell for cell:
  * - assignment replicates [[IvfAssign]] on the slice: d = |v|² − 2·(v·c)
  *   + |c|² with left-to-right dots, |c|² precomputed left-to-right,
  *   strict `<` argmin (ties keep the lowest cell id), null elements
  *   contributing 0;
  * - exact mode replicates [[VectorSum]]'s DECIMAL(28,6) sums: each
  *   element quantized via BigDecimal.valueOf → setScale(6, HALF_UP)
  *   unscaled long, Math.addExact accumulation (order-independent, loud
  *   on overflow), eval converting each cell through
  *   BigDecimal(unscaled, 6).doubleValue — the same decimal→double cast;
  * - non-exact mode sums native doubles (the same partition-order
  *   tolerance as VectorSum's fast mode).
  * Equality of the resulting codebooks against the per-subspace fit is
  * spec-asserted bit for bit (PqFitSpec), and the sim4/sim5/sim8 oracle
  * hashes are the cross-engine witness.
  *
  * Returns struct(s: array<double> of m·ksub·dsub cell sums, n:
  * array<long> of m·ksub cell counts); empty cells report n=0 and the
  * caller keeps the previous centroid (the per-subspace driver loop's
  * behavior). State is m·ksub·(dsub+1) words — corpus-size-independent.
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

  // |c|² per (subspace, cell), left-to-right — IvfAssign's centNorms
  @transient private lazy val cellNorms: Array[Array[Double]] =
    books.map(_.map { c =>
      var s = 0.0; var j = 0
      while (j < c.length) { s += c(j) * c(j); j += 1 }
      s
    })

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
      // |slice|² with the null-elements-contribute-0 convention
      var vv = 0.0
      var i = 0
      while (i < dsub) {
        if (!a.isNullAt(off + i)) { val x = a.getDouble(off + i); vv += x * x }
        i += 1
      }
      // argmin over this subspace's cells — strict <, lowest cid on ties
      var best = 0
      var bestD = Double.PositiveInfinity
      var cid = 0
      while (cid < ksub) {
        val c = books(j)(cid)
        var dotVC = 0.0
        var i2 = 0
        while (i2 < dsub) {
          if (!a.isNullAt(off + i2)) dotVC += a.getDouble(off + i2) * c(i2)
          i2 += 1
        }
        val d = vv - 2.0 * dotVC + cellNorms(j)(cid)
        if (d < bestD) { bestD = d; best = cid }
        cid += 1
      }
      val cell = j * ksub + best
      buf.counts(cell) += 1
      val sOff = cell * dsub
      var i3 = 0
      while (i3 < dsub) {
        if (!a.isNullAt(off + i3)) {
          if (exact)
            buf.longs(sOff + i3) =
              Math.addExact(buf.longs(sOff + i3), quantize(a.getDouble(off + i3)))
          else buf.doubles(sOff + i3) += a.getDouble(off + i3)
        }
        i3 += 1
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
      s(i) = if (exact) unquantize(buf.longs(i)) else buf.doubles(i)
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

  private val Scale = 6

  // VectorSum's quantize/unquantize, verbatim — one decimal convention
  private def quantize(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(Scale, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  private def unquantize(l: Long): Double =
    java.math.BigDecimal.valueOf(l, Scale).doubleValue()

  /** struct(s, n) aggregate of one all-subspaces Lloyd round. */
  def fit(vec: Column, books: Array[Array[Array[Double]]],
          exact: Boolean): Column =
    column(PqFit(expr(vec), books, exact).toAggregateExpression())
}
