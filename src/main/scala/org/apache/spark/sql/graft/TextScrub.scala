package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.GraftKernel.{column, expr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native letter-count: exactly `length(regexp_replace(s, "[^a-z]", ""))`
  * — the alpha-ratio numerator of the x2/x26/x31/st5 quality gates — as
  * one byte scan, with no regex engine and no scrubbed-string
  * materialization.
  *
  * Exactness: the regex removes every char outside a–z, so the surviving
  * length is the count of a–z code points. In UTF-8 the bytes 0x61–0x7A
  * can never occur inside a multi-byte sequence (all bytes of one are
  * ≥ 0x80), so counting raw bytes in that range equals counting chars —
  * for ANY input, non-ASCII included. Pinned differentially by
  * TextScrubSpec and by the x2/x26 oracle hashes.
  */
case class AlphaCount(child: Expression)
  extends GraftKernel1[UTF8String] {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_alpha_count"

  def compute(s: UTF8String): Int = {
    val n = s.numBytes()
    var c = 0
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b >= 'a' && b <= 'z') c += 1
      i += 1
    }
    c
  }
}

/** Native LM normalization: exactly `regexp_replace(lower(s), "[^a-z ]",
  * "")` — the [a-z ]-normalized text the char-trigram LM (TriCounts /
  * CharLmScore, x23/x26/x30/x31/x32) fits and scores on — as one byte
  * pass instead of a full-string lowercase allocation plus a regex
  * rewrite.
  *
  * Exactness: pure-ASCII strings (the overwhelming case; checked with
  * one scan) lowercase byte-by-byte ('A'–'Z' + 32 — identical to
  * `lower()`'s ASCII fast path) and keep only [a-z ]. A string with any
  * non-ASCII byte takes the exact slow path: the SAME
  * `UTF8String.toLowerCase` call Spark's `lower()` makes, then the byte
  * filter — which equals the regex char filter because the kept bytes
  * (0x61–0x7A, 0x20) cannot occur inside a multi-byte UTF-8 sequence.
  * Pinned differentially by TextScrubSpec (ASCII, accented, and
  * mixed-case inputs) and by the x23/x26/x30/x31/x32 oracle hashes.
  */
case class LmNormalize(child: Expression)
  extends GraftKernel1[UTF8String] {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_lm_normalize"

  def compute(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    var ascii = true
    var i = 0
    while (ascii && i < n) { if (s.getByte(i) < 0) ascii = false; i += 1 }
    if (ascii) {
      val out = new Array[Byte](n)
      var k = 0
      i = 0
      while (i < n) {
        var b = s.getByte(i)
        if (b >= 'A' && b <= 'Z') b = (b + 32).toByte
        if ((b >= 'a' && b <= 'z') || b == ' ') { out(k) = b; k += 1 }
        i += 1
      }
      UTF8String.fromBytes(out, 0, k)
    } else {
      // exact slow path: the same toLowerCase lower() runs, then the
      // byte filter (== the regex char filter; kept bytes are never part
      // of a multi-byte sequence)
      val t = s.toLowerCase
      val m = t.numBytes()
      val out = new Array[Byte](m)
      var k = 0
      i = 0
      while (i < m) {
        val b = t.getByte(i)
        if ((b >= 'a' && b <= 'z') || b == ' ') { out(k) = b; k += 1 }
        i += 1
      }
      UTF8String.fromBytes(out, 0, k)
    }
  }
}

object TextScrub {
  /** Column form: count of a–z chars. */
  def alphaCountCol(c: Column): Column = column(AlphaCount(expr(c)))

  /** Column form: the [a-z ]-normalized LM text. */
  def lmNormalizeCol(c: Column): Column = column(LmNormalize(expr(c)))
}
