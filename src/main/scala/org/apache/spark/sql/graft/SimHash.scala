package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftKernel.{column, expr, Fixed, NullPolicy}
import org.apache.spark.sql.types._

/** Native 16-bit SimHash over a distinct-token array — d6's signature as
  * one digest pass per token.
  *
  * Replaces the per-bit HOF pipeline
  * {{{
  *   __md5s = transform(dtoks, t => md5(t))
  *   bit j  = when(2 * size(filter(__md5s, h =>
  *              substring(h, j+1, 1).isin("8".."f")))
  *              > size(__md5s), 1L << j)
  * }}}
  * whose 16 `filter` lambdas each re-scan the hex array interpretively
  * (HOFs never enter whole-stage codegen). Here each token is digested
  * ONCE and its first 8 digest bytes drive all 16 bit counters: hex digit
  * j of the lowercase md5 encoding is ≥ '8' exactly when the
  * corresponding nibble's high bit is set, so no hex string is ever
  * built.
  *
  * Null-chain parity with the replaced expression (spec-asserted in
  * WordNgramsSpec's sibling SimHashSpec): null TOKENS contribute to the
  * denominator (`size` counts them) but never to a bit count (the
  * lambda's null predicate drops them); a NULL input ARRAY yields 0L —
  * `size(null) = null` made every per-bit `when` fall to its
  * `.otherwise(0)`, summing to 0, NOT to SQL null.
  */
case class SimHash(child: Expression) extends GraftKernel1[ArrayData] {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash16"
  override def nullPolicy: NullPolicy = Fixed(0L)

  /** 16-bit simhash: bit j set iff a strict majority of tokens have the
    * high bit of md5 nibble j set (null tokens count in the denominator
    * only). */
  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](16)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val dig = md.digest(arr.getUTF8String(i).getBytes)
        var j = 0
        while (j < 16) {
          // hex digit j is the high nibble of byte j/2 when j is even,
          // else the low nibble; its value ≥ 8 iff the nibble's top bit
          val b = dig(j >> 1) & 0xff
          val nibble = if ((j & 1) == 0) b >> 4 else b & 0xf
          if (nibble >= 8) counts(j) += 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 16) {
      if (2 * counts(j) > n) sig |= (1L << j)
      j += 1
    }
    sig
  }
}

object SimHash {
  /** Column form over a (distinct-)token array. */
  def simhash16(toks: Column): Column = column(SimHash(expr(toks)))
}
