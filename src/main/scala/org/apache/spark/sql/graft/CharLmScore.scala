package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.graft.GraftKernel.{column, expr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row-local char-trigram LM scoring against a FITTED bounded model —
  * the scoring half of the x23/x26 "perplexity filter" as one narrow
  * expression instead of an explode → two broadcast joins → per-doc
  * decimal re-aggregation (which shuffled ~600 trigram rows per document
  * back to doc grain: 17 s of x26's sf1 chain for 26K docs; this
  * expression scores the same cohort in under a second).
  *
  * Inputs: the [a-z ]-NORMALIZED document string (normalization stays in
  * SQL as a bound column — same regex both engines); the model rides the
  * expression as two int-indexed count arrays (trigram cell c₁·729 +
  * c₂·27 + c₃, bigram cell c₁·27 + c₂; ' ' = 26), at most 27³ + 27²
  * longs — the corpus-size-independent state that makes the same model
  * broadcastable at 100 TB.
  *
  * Arithmetic is BIT-IDENTICAL to the joined form (and therefore to the
  * DuckDB twin that hash-matches it): per position p = (n3+1)/(n2+27) in
  * IEEE double, p is converted to decimal exactly as Spark's
  * double→DECIMAL(28,12) cast does (same `Decimal.changePrecision`
  * call), the per-document sum is the exact decimal sum, and the mean is
  * sum.toDouble / count — every operation is the one the aggregate
  * pipeline performed, just fused per row.
  *
  * Returns struct(n_trigrams BIGINT, mean DOUBLE); mean is null when the
  * normalized text has no trigram (length < 3) — the joined form's
  * docs-without-rows LEFT-join null.
  */
case class CharLmScore(child: Expression, n3: Array[Long], n2: Array[Long])
  extends GraftKernel1[UTF8String] {

  require(n3.length == 27 * 27 * 27 && n2.length == 27 * 27,
    s"model arrays must be 27^3/27^2 cells: ${n3.length}/${n2.length}")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("mean", DoubleType, nullable = true)))
  override def prettyName: String = "graft_char_lm_score"

  // [a-z ] only by the normalization contract; anything else would come
  // from a caller skipping the bound normalization column — fail loudly
  // rather than scoring garbage cells
  private def cellOf(c: Char): Int =
    if (c == ' ') 26
    else if (c >= 'a' && c <= 'z') c - 'a'
    else throw new IllegalArgumentException(
      s"CharLmScore input not [a-z ]-normalized: '$c'")

  /** The 27³ per-cell cast results, precomputed ONCE per (deserialized)
    * kernel instance as scale-12 unscaled longs. `p` depends only on
    * the model cell — (n3[cell]+1)/(n2[cell/27]+27) — so the per-trigram
    * Decimal(double) construction (a Double.toString + BigDecimal parse!),
    * changePrecision, and immutable BigDecimal add the round-16 loop paid
    * ~180 ns/trigram for collapse to a table lookup + long add. The
    * decimal SUM stays EXACT (each addend is the exact unscaled value of
    * the cast result; long addition of unscaled values IS BigDecimal
    * addition at fixed scale), so the mean is bit-identical. Falls back
    * to the per-trigram Decimal path if any cell's unscaled value does
    * not fit a long (only possible with garbage model arrays; charLmFit
    * counts always give p < 1). `maxSafeN` bounds the trigram count so
    * the long accumulator provably cannot overflow; longer inputs (none
    * exist below ~9·10⁶ trigrams for real models) take the exact
    * fallback. Serialization note: @transient — executors rebuild the
    * 19683-entry table once per deserialized instance, not per row. */
  @transient private lazy val scaledTable: Array[Long] = {
    val t = new Array[Long](27 * 27 * 27)
    var cell = 0
    var ok = true
    while (ok && cell < t.length) {
      val i2 = cell / 27
      val p = (n3(cell) + 1).toDouble / (n2(i2) + 27).toDouble
      val d = org.apache.spark.sql.types.Decimal(p)
      if (!d.changePrecision(28, 12))
        throw new ArithmeticException(s"p=$p overflows DECIMAL(28,12)")
      val unscaled = d.toJavaBigDecimal.unscaledValue()
      if (unscaled.bitLength() >= 62) ok = false // garbage model: fallback
      else { t(cell) = unscaled.longValueExact(); cell += 1 }
    }
    if (ok) t else null
  }
  @transient private lazy val maxSafeN: Long = {
    if (scaledTable == null) 0L
    else {
      var mx = 1L
      var i = 0
      while (i < scaledTable.length) {
        if (scaledTable(i) > mx) mx = scaledTable(i); i += 1
      }
      Long.MaxValue / 2 / mx
    }
  }

  // byte-level cell of ASCII input: ' ' = 26, a-z; any other byte fails
  // loudly like cellOf
  private def cellOfByte(b: Byte): Int =
    if (b == 0x20) 26
    else if (b >= 'a' && b <= 'z') b - 'a'
    else throw new IllegalArgumentException(
      s"CharLmScore input not [a-z ]-normalized: '${b.toChar}'")

  def compute(s: UTF8String): InternalRow = {
    // normalized input is pure ASCII: one byte per char, so the trigram
    // walk runs on raw bytes with no String materialization. Any non-ASCII
    // byte (unreachable through LmNormalize) routes the WHOLE input to the
    // char path before any byte is decoded, so such input gets exactly the
    // char path's answer (loud throw, or the (0, null) short-string
    // result when numChars < 3 <= numBytes).
    val len = s.numBytes()
    if (len < 3) return new GenericInternalRow(Array[Any](0L, null))
    var k = 0
    while (k < len) { if (s.getByte(k) < 0) return scoreSlowChars(s); k += 1 }
    val n = (len - 2).toLong
    val table = scaledTable
    if (table == null || n > maxSafeN) return scoreSlow(s.toString)
    var accL = 0L
    var c1 = cellOfByte(s.getByte(0))
    var c2c = cellOfByte(s.getByte(1))
    var i = 2
    while (i < len) {
      val c3c = cellOfByte(s.getByte(i))
      accL += table((c1 * 27 + c2c) * 27 + c3c)
      c1 = c2c
      c2c = c3c
      i += 1
    }
    val mean = java.math.BigDecimal.valueOf(accL, 12).doubleValue() / n
    new GenericInternalRow(Array[Any](n, mean))
  }

  /** Non-ASCII fallback: exact pre-round-17 behavior over CHARS —
    * (0, null) when numChars < 3, else the loud cellOf throw. */
  private def scoreSlowChars(s: UTF8String): InternalRow = {
    val t = s.toString
    if (t.length < 3) new GenericInternalRow(Array[Any](0L, null))
    else scoreSlow(t)
  }

  /** The round-16 per-trigram Decimal loop — kept as the exact fallback
    * for inputs beyond the long accumulator's proven-safe bound. */
  def scoreSlow(t: String): InternalRow = { // exposed for the differential spec
    val len = t.length
    if (len < 3) return new GenericInternalRow(Array[Any](0L, null))
    var acc = java.math.BigDecimal.ZERO
    var i = 0
    val last = len - 3
    while (i <= last) {
      val c1 = cellOf(t.charAt(i))
      val c2c = cellOf(t.charAt(i + 1))
      val c3c = cellOf(t.charAt(i + 2))
      val i2 = c1 * 27 + c2c
      val p = (n3(i2 * 27 + c3c) + 1).toDouble / (n2(i2) + 27).toDouble
      // EXACTLY Spark's cast(p AS DECIMAL(28,12)): Decimal(double) then
      // changePrecision with the cast's rounding
      val d = org.apache.spark.sql.types.Decimal(p)
      if (!d.changePrecision(28, 12))
        throw new ArithmeticException(s"p=$p overflows DECIMAL(28,12)")
      acc = acc.add(d.toJavaBigDecimal)
      i += 1
    }
    val n = (last + 1).toLong
    new GenericInternalRow(Array[Any](n, acc.doubleValue() / n))
  }
}

object CharLmScore {
  /** struct(n, mean) column; input must be the [a-z ]-normalized text. */
  def score(normText: Column, n3: Array[Long], n2: Array[Long]): Column =
    column(CharLmScore(expr(normText), n3, n2))

  /** Trigram cell index for a 3-char [a-z ] string — the fit side's
    * mapping from the aggregated trigram STRINGS to the model array. */
  def cellIndex(g: String): Int = {
    require(g.length == 3, s"not a trigram: '$g'")
    def c(ch: Char): Int =
      if (ch == ' ') 26
      else if (ch >= 'a' && ch <= 'z') ch - 'a'
      else throw new IllegalArgumentException(s"non-[a-z ] trigram char: '$ch'")
    (c(g.charAt(0)) * 27 + c(g.charAt(1))) * 27 + c(g.charAt(2))
  }
}
