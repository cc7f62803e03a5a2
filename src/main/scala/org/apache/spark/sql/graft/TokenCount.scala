package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.GraftKernel.{column, expr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen whitespace-token count: exactly
  * `size(split(trim(s), "\\s+"))` — the token-count every text operator
  * in this library shares (x1/x12, quality scores) — as ONE tight byte
  * scan over the UTF8String, with no regex engine, no token-string
  * array, no per-token allocation.
  *
  * Why it exists: at sf10 the x12 sequence-packing query spent nearly
  * all its time in `split`'s regex machinery + array materialization
  * just to take the array's LENGTH (5.1 s / 500K docs; a
  * `regexp_count + 1` rewrite was measured SLOWER at 7.3 s —
  * Matcher.find per separator). Counting needs neither: Java's `\s`
  * (default, non-UNICODE_CHARACTER_CLASS) is exactly the six ASCII
  * bytes 0x09–0x0D and 0x20, all of which are single-byte in UTF-8, so
  * separator RUNS are countable in one pass over the raw bytes —
  * multi-byte codepoints can never alias them.
  *
  * Equivalence contract (pinned by TokenCountSpec's property test and
  * the x12 oracle hash): Spark's `trim` strips 0x20 only; `split(s,
  * re, -1)` yields (#separator matches) + 1 elements including leading/
  * trailing empties, and the empty string yields [""] — so the count is
  * always (#whitespace runs after space-trim) + 1.
  */
case class TokenCount(child: Expression)
  extends GraftKernel1[UTF8String] {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_token_count"

  def compute(s: UTF8String): Int = TokenCount.count(s)
}

object TokenCount {

  /** THE tokenization contract, in code: Java's default `\s` is exactly
    * these six ASCII bytes (0x09–0x0D + 0x20). Shared by TokenCount and
    * TermFreqs so the two byte scans can never drift apart. NOTE the
    * DuckDB twins cannot write `\s` for this: RE2's `\s` omits vertical
    * tab (0x0B), so every oracle uses the explicit class
    * `[ \t\n\x0b\f\r]+` instead. */
  @inline private[graft] def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0D)

  /** Byte bounds after Spark's `trim`, which strips 0x20 (space) ONLY —
    * (from, to) packed as a long to stay allocation-free. */
  @inline private[graft] def spaceTrimBounds(s: UTF8String): Long = {
    var from = 0
    var to = s.numBytes()
    while (from < to && s.getByte(from) == 0x20) from += 1
    while (to > from && s.getByte(to - 1) == 0x20) to -= 1
    (from.toLong << 32) | to.toLong
  }

  /** (#\s+ runs in the space-trimmed string) + 1 — see class doc. */
  def count(s: UTF8String): Int = {
    val bounds = spaceTrimBounds(s)
    val from = (bounds >>> 32).toInt
    val to = bounds.toInt
    var runs = 0
    var inWs = false
    var i = from
    while (i < to) {
      val ws = isWs(s.getByte(i))
      if (ws && !inWs) runs += 1
      inWs = ws
      i += 1
    }
    runs + 1
  }

  /** Column-level token count over a string column. */
  def tokenCount(c: Column): Column =
    column(TokenCount(expr(c)))
}
