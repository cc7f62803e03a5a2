package org.apache.spark.sql.graft

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.GraftKernel.{column, expr}
import org.apache.spark.sql.types._

/** Char-trigram occurrence counts over a corpus as ONE bounded-state
  * aggregate — the fit half of the x23/x26 perplexity filter
  * (reference anchor: the quality-scoring convention of SURVEY §2.8)
  * without materializing a row per trigram occurrence.
  *
  * The explode → groupBy fit shape creates a generator row, a hash-agg
  * probe, and (across the partial/final boundary) shuffle traffic per
  * trigram OCCURRENCE — ~600 per document, a billion-row generator pass
  * at sf10 and the single biggest line in x23/x26's bench profile. But
  * the model itself is bounded: 27³ cells. This aggregate slides over
  * each [a-z ]-normalized string in place and increments a flat
  * `Array[Long](19683)` buffer — per-partition state is a constant
  * 154 KB regardless of corpus size, partials merge by vector add, and
  * the whole fit is one pass with no generator, no per-occurrence hash
  * probe, and #partitions × 154 KB of total shuffle. The same model a
  * 1000-executor cluster fits over 100 TB in one map-reduce round.
  *
  * Counts are exact longs — bit-identical to the exploded groupBy (the
  * x23 oracle hash is the cross-engine witness). Cell layout is
  * [[CharLmScore.cellIndex]]: (c₁·27 + c₂)·27 + c₃ with ' ' = 26; the
  * scoring side ([[CharLmScore]]) consumes the array directly. Strings
  * shorter than 3 chars contribute nothing (the exploded form's `when`
  * guard); nulls are skipped (generator-on-null-array semantics).
  */
case class TriCounts(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with ExpectsInputTypes with ValueEquality {

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_tri_counts"

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](TriCounts.Cells)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      // [a-z ]-normalized by the fit contract => ASCII; same loud failure
      // on an unnormalized caller as CharLmScore.cellOf
      val t = v.toString
      val len = t.length
      if (len >= 3) {
        var c1 = TriCounts.cellOf(t.charAt(0))
        var c2 = TriCounts.cellOf(t.charAt(1))
        var i = 2
        while (i < len) {
          val c3 = TriCounts.cellOf(t.charAt(i))
          buf((c1 * 27 + c2) * 27 + c3) += 1L
          c1 = c2
          c2 = c3
          i += 1
        }
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < TriCounts.Cells) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(TriCounts.Cells * 8)
    var i = 0
    while (i < TriCounts.Cells) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](TriCounts.Cells)
    var i = 0
    while (i < TriCounts.Cells) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TriCounts =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TriCounts =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TriCounts =
    copy(child = newChildren.head)
}

object TriCounts {

  /** 27³ trigram cells over the [a-z ] alphabet. */
  val Cells: Int = 27 * 27 * 27

  private[graft] def cellOf(c: Char): Int =
    if (c == ' ') 26
    else if (c >= 'a' && c <= 'z') c - 'a'
    else throw new IllegalArgumentException(
      s"TriCounts input not [a-z ]-normalized: '$c'")

  /** array<bigint> of 27³ occurrence counts; input must be the
    * [a-z ]-normalized text column (the same bound normalization the
    * scoring side consumes). */
  def triCounts(normText: Column): Column =
    column(TriCounts(expr(normText)).toAggregateExpression())
}
