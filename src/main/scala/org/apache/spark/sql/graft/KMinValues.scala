package org.apache.spark.sql.graft

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graft.GraftKernel.{column, expr}
import org.apache.spark.sql.types._

/** KMV (k-minimum-values) distinct-count sketch as a native aggregate —
  * cardinality estimation with O(k) mergeable state instead of a global
  * `count(distinct …)` expand/shuffle of the full value set (at 100 TB a
  * vocabulary count over a token stream shuffles billions of distinct
  * strings; this shuffles #partitions × k longs).
  *
  * The classic KMV estimator (Bar-Yossef et al. 2002; the mergeable-
  * summaries formulation): keep the k smallest DISTINCT hash values of the
  * input; with hashes uniform on [0, 1), the k-th smallest h_k estimates
  * density, so distinct ≈ (k−1)/h_k. Fewer than k distinct hashes = the
  * sketch holds the whole distinct set and the count is exact.
  *
  * DETERMINISTIC by construction, so the estimate itself is
  * oracle-checkable: the input is a 52-bit hash (13 hex digits of md5 —
  * exactly representable in a double, md5 identical across engines), the
  * kept set is a sorted set of longs (partitioning/merge-order
  * independent), and DuckDB reproduces the identical estimate with
  * `ORDER BY hash LIMIT k` + the same closed form. No engine-native
  * approx_count_distinct ever matches across engines; this does.
  */
case class KMinValues(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with ExpectsInputTypes with ValueEquality {

  require(k >= 2, s"KMV needs k >= 2, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_kmv_distinct"

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      require(h >= 0 && h < KMinValues.HashSpace,
        s"KMV hash out of [0, 2^52): $h")
      buf.add(h)
      if (buf.size > k) buf.pollLast()
    }
    buf
  }

  override def merge(b1: java.util.TreeSet[java.lang.Long],
                     b2: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    b1.addAll(b2)
    while (b1.size > k) b1.pollLast()
    b1
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any =
    if (buf.size < k) buf.size.toDouble
    else (k - 1).toDouble / (buf.last.toDouble / KMinValues.HashSpace)

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 8)
    bb.putInt(buf.size)
    buf.forEach(h => bb.putLong(h))
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val s = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { s.add(bb.getLong); i += 1 }
    s
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KMinValues =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KMinValues =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KMinValues =
    copy(child = newChildren.head)
}

object KMinValues {

  /** Hash domain: [0, 2^52) — 13 hex digits, exactly representable in a
    * double on both engines (2^52 < 2^53). */
  val HashSpace: Double = 4503599627370496.0 // 2^52
  val HexDigits = 13

  /** Distinct-count estimate of `hash52` (a 52-bit non-negative long hash
    * column, e.g. [[hash52]]) with sketch size k. */
  def kmvDistinct(hashCol: Column, k: Int): Column =
    column(KMinValues(expr(hashCol), k).toAggregateExpression())

  /** The cross-engine 52-bit uniform hash: first 13 hex digits of md5,
    * parsed base-16. DuckDB twin: `('0x' || substr(md5(x), 1, 13))::UBIGINT`. */
  def hash52(c: Column): Column = {
    import org.apache.spark.sql.functions._
    conv(substring(md5(c), 1, HexDigits), 16, 10).cast("long")
  }
}
