package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native trigram language-ID scoring — the argmax half of
  * graft.queries.LangId as ONE pass over the padded string with hash-set
  * profile membership, replacing four `filter(tris, isin(45 literals))`
  * higher-order passes (each trigram paid up to 180 literal string
  * comparisons; the bound-HOF form still cost ~10 s of x26's sf1 gate
  * projection — this expression is ~2 s for the same cohort, and no
  * trigram array is ever materialized).
  *
  * Input is the PADDED normalized text (' ' + normalized + ' ' — the
  * normalization regex stays in SQL as a bound column so both engines
  * share it). Semantics are identical to the HOF form, spec-asserted:
  * per language, count trigram POSITIONS whose 3-char substring is in
  * the profile (multiplicity included); best = max count; pick the
  * FIRST language in profile order achieving best when best > 0, else
  * 'und'. Inputs shorter than 3 chars score zero everywhere → 'und'.
  *
  * Profiles ride as `Seq[(String, Set[String])]` — value-equal by
  * construction, so Catalyst canonicalization dedups equal picks.
  */
case class LangIdPick(child: Expression, profiles: Seq[(String, Set[String])])
  extends UnaryExpression with ExpectsInputTypes {

  require(profiles.nonEmpty, "need at least one language profile")
  // the trigram table's per-language mask is an Int: a 33rd profile's
  // bit would wrap onto language l - 32 and silently credit it
  require(profiles.size <= 32, s"at most 32 language profiles: ${profiles.size}")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_langid_pick"

  @transient private lazy val langBytes: Array[UTF8String] =
    profiles.map(p => UTF8String.fromString(p._1)).toArray
  @transient private lazy val und = UTF8String.fromString("und")

  /** One open-addressed long→bitmask table over ALL profiles: a trigram's
    * three UTF-16 units pack injectively into 48 bits, and its value is
    * the bitmask of languages containing it. The round-16 form allocated
    * a substring AND hashed it against every language's HashSet per
    * position (4 string hashes + 1 alloc × ~len positions per row); one
    * long probe replaces all of it — semantics identical (exact 3-char
    * membership, multiplicity counted) because char-triple equality IS
    * substring equality. Key 0 (three NUL chars) is the empty-slot
    * sentinel; no profile trigram contains NUL (asserted). */
  @transient private lazy val triTable: (Array[Long], Array[Int]) = {
    var cap = 64
    val need = profiles.map(_._2.size).sum * 4
    while (cap < need) cap <<= 1
    val keys = new Array[Long](cap)
    val masks = new Array[Int](cap)
    profiles.zipWithIndex.foreach { case ((_, prof), l) =>
      prof.foreach { g =>
        require(g.length == 3, s"not a trigram: '$g'")
        val key = (g.charAt(0).toLong << 32) | (g.charAt(1).toLong << 16) |
          g.charAt(2).toLong
        require(key != 0L, "NUL trigram collides with the empty sentinel")
        var slot = LangIdPick.mix(key) & (cap - 1)
        while (keys(slot) != 0L && keys(slot) != key) slot = (slot + 1) & (cap - 1)
        keys(slot) = key
        masks(slot) |= 1 << l
      }
    }
    (keys, masks)
  }

  def pickPublic(s: UTF8String): UTF8String = {
    val t = s.toString
    val nLang = profiles.size
    val (keys, masks) = triTable
    val cap1 = keys.length - 1
    val counts = new Array[Int](nLang)
    val len = t.length
    if (len >= 3) {
      var c1 = t.charAt(0).toLong
      var c2 = t.charAt(1).toLong
      var i = 2
      while (i < len) {
        val c3 = t.charAt(i).toLong
        val key = (c1 << 32) | (c2 << 16) | c3
        var slot = LangIdPick.mix(key) & cap1
        while (keys(slot) != 0L && keys(slot) != key) slot = (slot + 1) & cap1
        if (keys(slot) == key) {
          var m = masks(slot)
          while (m != 0) {
            counts(java.lang.Integer.numberOfTrailingZeros(m)) += 1
            m &= m - 1
          }
        }
        c1 = c2
        c2 = c3
        i += 1
      }
    }
    var best = 0
    var l = 0
    while (l < nLang) { if (counts(l) > best) best = counts(l); l += 1 }
    if (best == 0) return und
    l = 0
    while (l < nLang) {
      if (counts(l) == best) return langBytes(l)
      l += 1
    }
    und // unreachable
  }

  override protected def nullSafeEval(a: Any): Any =
    pickPublic(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("langIdPick", this, classOf[LangIdPick].getName)
    defineCodeGen(ctx, ev, a => s"$self.pickPublic($a)")
  }

  override protected def withNewChildInternal(newChild: Expression): LangIdPick =
    copy(child = newChild)
}

object LangIdPick {
  /** Fibonacci-style 64-bit mixer: packed letter triples differ mostly in
    * their low byte per 16-bit lane, and `Long.hashCode` (hi ^ lo) folds
    * them into a handful of table slots — the multiplicative spread uses
    * the product's HIGH bits, which every lane perturbs. */
  @inline private[graft] def mix(key: Long): Int =
    ((key * -7046029254386353131L) >>> 40).toInt

  /** Predicted-language column over the PADDED normalized text. */
  def pick(paddedText: Column, profiles: Seq[(String, Set[String])]): Column =
    ExpressionUtils.column(
      LangIdPick(ExpressionUtils.expression(paddedText), profiles))
}
