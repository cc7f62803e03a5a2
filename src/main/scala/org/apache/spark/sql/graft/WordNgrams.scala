package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftKernel.{column, expr, Fixed, NullPolicy}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native word n-gram construction: exactly
  * `when(size(toks) >= n, transform(sequence(1, size(toks) - n + 1),
  *    i -> concat_ws(" ", toks[i], ..., toks[i + n - 1])))
  *  .otherwise(array())`
  * — the shingle/gram builder every dedup and contamination operator
  * shares (d3/d7 MinHash shingles, x11 + the x26/x31/x32 decontamination
  * 5-grams, x6 trigrams, d4 bigrams) — as ONE compiled loop over the
  * token array.
  *
  * Why it exists: `transform` is a higher-order function, and HOFs do not
  * participate in whole-stage codegen — the lambda body (`concat_ws` over
  * n indexed `element_at`s) is re-evaluated INTERPRETIVELY per element,
  * with per-element lambda-variable binding. Measured at sf0.1 (round 16,
  * noop sink, local[32]): the 5-gram construction alone cost ~12 s wall
  * (~19 µs per gram) in the HOF form; a count()-timed bench hides this
  * (Catalyst prunes the unreferenced lambda), but every materializing
  * consumer — the Verify dump, the x26/x31/x32 chains' persisted joints,
  * d3's shingle pass — pays it in full.
  *
  * Equivalence contract (pinned by WordNgramsSpec's differential test and
  * the x11/d3/d4/x6 oracle hashes): null or short (< n tokens) arrays
  * yield the EMPTY array (the `when` guard's `.otherwise(array())`, which
  * a null condition also falls into); null TOKENS are skipped by
  * concat_ws, so the kernel joins only non-null tokens with a single
  * 0x20; [[GramHashes]] additionally md5-hexes each gram (commons-codec
  * `DigestUtils`, the identical library call Spark's own `md5` expression
  * makes) and first-occurrence-deduplicates — exactly
  * `array_distinct(transform(wordNgrams(toks, n), md5))`.
  */
case class WordNgrams(child: Expression, n: Int) extends GraftKernel1[ArrayData] {
  require(n >= 1, s"ngram size must be >= 1: $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_ngrams"
  override def nullPolicy: NullPolicy = Fixed(WordNgrams.Empty)

  /** Empty when the array has fewer than n tokens (the `when` guard). */
  def compute(arr: ArrayData): ArrayData = {
    val sz = arr.numElements()
    if (sz < n) return WordNgrams.Empty
    val out = new Array[AnyRef](sz - n + 1)
    val scratch = new Array[UTF8String](n)
    var i = 0
    while (i <= sz - n) {
      out(i) = WordNgrams.gramAt(arr, i, n, scratch)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** [[WordNgrams]] + md5 + first-occurrence distinct in one pass — the
  * gram-hash form the contamination operators consume. */
case class GramHashes(child: Expression, n: Int) extends GraftKernel1[ArrayData] {
  require(n >= 1, s"ngram size must be >= 1: $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_gram_hashes"
  override def nullPolicy: NullPolicy = Fixed(WordNgrams.Empty)

  /** Distinct (first-occurrence order) md5 hex of each n-gram. */
  def compute(arr: ArrayData): ArrayData = {
    val sz = arr.numElements()
    if (sz < n) return WordNgrams.Empty
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val scratch = new Array[UTF8String](n)
    var i = 0
    while (i <= sz - n) {
      val g = WordNgrams.gramAt(arr, i, n, scratch)
      // identical call chain to Spark's Md5 expression: commons-codec
      // md5Hex over the string's UTF-8 bytes, lowercase hex
      seen.add(UTF8String.fromString(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(g.getBytes)))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }
}

object WordNgrams {

  private val Space = UTF8String.fromString(" ")

  /** Shared empty result (immutable; GenericArrayData over a 0-length
    * array) — the `.otherwise(array())` branch. */
  val Empty: ArrayData = new GenericArrayData(new Array[AnyRef](0))

  /** One n-gram: the concat_ws(" ", ...) of window [i, i+n) — null tokens
    * skipped, like ConcatWs. */
  private[graft] def gramAt(arr: ArrayData, i: Int, n: Int,
                     scratch: Array[UTF8String]): UTF8String = {
    var k = 0
    var o = 0
    while (o < n) {
      val t = if (arr.isNullAt(i + o)) null else arr.getUTF8String(i + o)
      if (t != null) { scratch(k) = t; k += 1 }
      o += 1
    }
    UTF8String.concatWs(Space, java.util.Arrays.copyOfRange(scratch, 0, k): _*)
  }

  /** Column form of [[WordNgrams]]. */
  def wordNgrams(toks: Column, n: Int): Column = column(WordNgrams(expr(toks), n))

  /** Column form of [[GramHashes]]. */
  def gramHashes(toks: Column, n: Int): Column = column(GramHashes(expr(toks), n))
}
