package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftKernel.{column, expr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native whitespace tokenizer: exactly `split(trim(s), "\\s+")` — THE
  * tokenization every text operator shares (TextDedup.tokens,
  * IncrementalDedup, the x26/x31/x32 shingle and gram stages) — as one
  * byte scan emitting token slices, with no regex engine and no
  * Java-String round trip.
  *
  * Equivalence contract (the [[TokenCount]] contract, extended from the
  * count to the tokens themselves; WsTokensSpec pins it differentially,
  * property-tested against the built-in):
  *  - Spark's `trim` strips 0x20 (space) ONLY — other whitespace at the
  *    ends survives into split;
  *  - Java's default `\s` is exactly the six ASCII bytes 0x09–0x0D +
  *    0x20, all single-byte in UTF-8, so separator RUNS are byte-scannable
  *    and multi-byte codepoints can never alias them;
  *  - `split(s, re, -1)` keeps boundary empties: a leading separator run
  *    yields a leading "" token, a trailing run a trailing "" token, and
  *    the empty string yields [""] — token count is always (#runs) + 1.
  *
  * Null input → null (split-on-null semantics).
  */
case class WsTokens(child: Expression)
  extends GraftKernel1[UTF8String] {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_ws_tokens"

  /** The token array of `split(trim(s), "\\s+")` — see class doc. */
  def compute(s: UTF8String): ArrayData = {
    // byte bounds after Spark's space-only trim (TokenCount's helper)
    val bounds = TokenCount.spaceTrimBounds(s)
    val from = (bounds >>> 32).toInt
    val to = bounds.toInt
    val bytes = s.getBytes // one copy; slices share it
    // count tokens first: (#\s+ runs) + 1
    var runs = 0
    var inWs = false
    var i = from
    while (i < to) {
      val ws = TokenCount.isWs(bytes(i))
      if (ws && !inWs) runs += 1
      inWs = ws
      i += 1
    }
    val out = new Array[AnyRef](runs + 1)
    var k = 0
    var start = from
    i = from
    while (i < to) {
      if (TokenCount.isWs(bytes(i))) {
        if (i == from || !TokenCount.isWs(bytes(i - 1))) {
          // first byte of a separator run: close the current token
          out(k) = UTF8String.fromBytes(bytes, start, i - start)
          k += 1
        }
        start = i + 1
      }
      i += 1
    }
    out(k) = UTF8String.fromBytes(bytes, start, to - start)
    new GenericArrayData(out)
  }
}

object WsTokens {
  /** Column form — drop-in for `split(trim(c), "\\s+")`. */
  def wsTokens(c: Column): Column =
    column(WsTokens(expr(c)))
}
