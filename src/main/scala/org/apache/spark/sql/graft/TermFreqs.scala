package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftKernel.{column, expr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native per-document term-frequency map: semantically
  * `explode(split(trim(s), "\\s+"))` → `groupBy(term).count()` collapsed
  * to ONE row-local byte scan returning `array<struct<term,tf>>` in
  * first-occurrence order.
  *
  * Why it exists: TF is a per-document quantity, but the builtin way to
  * compute it (explode + groupBy(doc, term)) pays a corpus-sized exchange
  * of raw term strings — at sf10 that exchange dominated x13. The
  * higher-order-function rewrite (sort_array + run boundaries via
  * filter/zip_with) is row-local on paper but CollapseProject inlines the
  * sorted-array alias into the lambdas (a generator Project defeats the
  * withColumn binding that protects d2/x11), re-sorting the array per
  * element — measured 28× SLOWER than the exchange it replaced. A native
  * expression has no alias to inline: one scan, one small hash map, no
  * regex, no shuffle.
  *
  * Tokenization contract shared with [[TokenCount]] (pinned by
  * TermFreqsSpec's parity property): Spark `trim` strips 0x20 only;
  * `split(s, re, -1)` yields (#separator runs) + 1 segments including
  * leading/trailing empties; `""` → `[""]`. Java's default `\s` is six
  * ASCII bytes, so UTF-8 multi-byte codepoints can never alias a
  * separator and the scan works on raw bytes. (RE2 — DuckDB's engine —
  * defines `\s` WITHOUT vertical tab, so the oracle twins spell the six
  * bytes out as `[ \t\n\x0b\f\r]+`; see TokenCount.isWs.)
  */
case class TermFreqs(child: Expression)
  extends GraftKernel1[UTF8String] {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = TermFreqs.OutType
  override def prettyName: String = "graft_term_freqs"

  def compute(s: UTF8String): ArrayData = TermFreqs.freqs(s)
}

object TermFreqs {

  val OutType: ArrayType = ArrayType(
    StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))),
    containsNull = false)

  /** First-occurrence-ordered (term, count) pairs of the whitespace
    * tokens of the space-trimmed string — see class doc for the exact
    * split-equivalence contract.
    *
    * ZERO-COPY: the scan walks `getByte` and term slices alias the
    * string's OWN buffer via `fromAddress(base, offset+start, len)` —
    * no per-document byte-array copy (the round-7 profile note: the
    * `getBytes` defensive copy was the one allocation a 100-TB profile
    * would surface). Sound under the InternalRow contract: every
    * buffering consumer (agg hash maps, sorters, UnsafeProjection
    * output) copies bytes out before the source buffer can be reused,
    * and the slices themselves only live inside this eval's map plus
    * the returned array the caller immediately consumes. */
  def freqs(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val bounds = TokenCount.spaceTrimBounds(s) // shared trim + \s contract
    val from = (bounds >>> 32).toInt
    val to = bounds.toInt

    val counts = new java.util.LinkedHashMap[UTF8String, Long]()
    def emit(segStart: Int, segEnd: Int): Unit = {
      val t = UTF8String.fromAddress(base, off + segStart, segEnd - segStart)
      counts.put(t, counts.getOrDefault(t, 0L) + 1L)
    }
    var segStart = from
    var i = from
    while (i < to) {
      if (TokenCount.isWs(s.getByte(i))) {
        emit(segStart, i)
        // skip the whole separator run
        i += 1
        while (i < to && TokenCount.isWs(s.getByte(i))) i += 1
        segStart = i
      } else i += 1
    }
    emit(segStart, to) // trailing segment (empty if the string ends in ws)

    val out = new Array[Any](counts.size())
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(Array[Any](e.getKey, e.getValue))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Column-level term-frequency array over a string column. */
  def termFreqs(c: Column): Column =
    column(TermFreqs(expr(c)))
}
