package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftKernel.{column, expr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** All MinHash band-bucket strings of a string set in ONE pass — the
  * banding half of the d3/d7/d8/x26 LSH candidate generation as a single
  * narrow expression.
  *
  * Replaces the higher-order-function pipeline
  * {{{
  *   hj   = array_min(transform(toks, t => md5(concat(lit(s"$j:"), t))))
  *   band = concat(lit("b:"), md5(concat(h_{4b}, ..., h_{4b+3})))
  * }}}
  * which materializes nSeeds intermediate hex-string ARRAYS per row (one
  * md5 + concat + UTF8String per element PER SEED, then an array_min scan
  * each) — measured as the heaviest stages of x26's fuzzy-dedup chain.
  * Here each element is digested once per seed with a reused
  * MessageDigest, only the 16-byte digests are compared (unsigned byte
  * order over an MD5 digest IS lexicographic order of its lowercase-hex
  * encoding, nibble by nibble — so the kept minima are exactly
  * array_min's), and hex strings are built only for the nSeeds winners.
  *
  * VALUE-PARITY with the HOF form is spec-asserted (MinHashBandsSpec)
  * element for element, including the degenerate cases: null elements are
  * skipped like array_min skips them; an empty/all-null input yields
  * null band entries exactly like md5(concat(null…)) does. The DuckDB
  * oracle twins hash the same band-bucket values either way.
  *
  * ONE documented divergence: a NULL input ARRAY (the array itself, not
  * its elements) yields SQL NULL here (the kernel's null-in→null-out policy),
  * where the HOF form yields `array(null, …)` — so `explode()` drops the
  * row instead of emitting nBands null-bucket rows. Unobservable in every
  * caller (null buckets never survive the bucket equi-joins, and the
  * dedup pipelines project the array from non-null text), and the
  * standard-SQL null chain is the saner contract; spec-pinned in
  * MinHashBandsSpec's null-array case rather than papered over.
  *
  * Scale shape: row-local, zero shuffles, bounded state (nSeeds 16-byte
  * digests); the corpus-size-independent banding pass a 100-TB dedup
  * needs.
  */
case class MinHashBands(child: Expression, nSeeds: Int, bandSize: Int)
  extends GraftKernel1[ArrayData] {

  require(nSeeds > 0 && bandSize > 0 && nSeeds % bandSize == 0,
    s"nSeeds $nSeeds must be a positive multiple of bandSize $bandSize")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_minhash_bands"

  @transient private lazy val prefixes = MinHashSigs.prefixes(nSeeds)

  def compute(arr: ArrayData): ArrayData = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val mins = MinHashSigs.seedMinima(arr, prefixes, md)
    val nBands = nSeeds / bandSize
    val out = new Array[AnyRef](nBands)
    var b = 0
    while (b < nBands) {
      var anyNull = false
      val sb = new java.lang.StringBuilder(32 * bandSize)
      var j = b * bandSize
      while (j < (b + 1) * bandSize) {
        if (mins(j) == null) anyNull = true else sb.append(MinHashSigs.hex(mins(j)))
        j += 1
      }
      // concat(h…) is null if any h is null; md5(null) is null; the
      // "b:" ++ null concat is null — mirror the whole null chain
      out(b) =
        if (anyNull) null
        else {
          md.reset()
          val bandDig = md.digest(sb.toString.getBytes(StandardCharsets.US_ASCII))
          UTF8String.fromString(b.toString + ":" + MinHashSigs.hex(bandDig))
        }
      b += 1
    }
    new GenericArrayData(out)
  }
}

object MinHashBands {
  /** array<string> of band-bucket strings ("0:<md5hex>", "1:<md5hex>", …)
    * for the given string-set column. */
  def bands(arr: Column, nSeeds: Int, bandSize: Int): Column =
    column(MinHashBands(expr(arr), nSeeds, bandSize))

  /** array<string> of the nSeeds MinHash signature hexes themselves —
    * exactly `array_min(transform(toks, t => md5(concat("j:", t))))` per
    * seed j (d2's signature columns), sharing [[MinHashBands]]'s
    * digest-min loop. */
  def sigs(arr: Column, nSeeds: Int): Column = column(MinHashSigs(expr(arr), nSeeds))
}

/** The signature half of [[MinHashBands]]: the per-seed minima as
  * lowercase-hex strings, WITHOUT banding — the d2 signature dump. Same
  * single-digest-per-(element, seed) loop; hex built only for the nSeeds
  * winners. Null elements are skipped like array_min; an empty/all-null
  * input yields null entries (array_min of an empty transform is null);
  * a NULL input array is null-in→null-out, and d2's
  * `element_at(null, j)` columns read null exactly as the HOF form's
  * per-column nulls did. */
case class MinHashSigs(child: Expression, nSeeds: Int)
  extends GraftKernel1[ArrayData] {

  require(nSeeds > 0, s"nSeeds must be positive: $nSeeds")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_minhash_sigs"

  @transient private lazy val prefixes = MinHashSigs.prefixes(nSeeds)

  def compute(arr: ArrayData): ArrayData = {
    val mins = MinHashSigs.seedMinima(
      arr, prefixes, java.security.MessageDigest.getInstance("MD5"))
    new GenericArrayData(mins.map[AnyRef](m =>
      if (m == null) null else UTF8String.fromString(MinHashSigs.hex(m))))
  }
}

object MinHashSigs {

  /** The "j:" salt prefix of each seed. */
  private[graft] def prefixes(nSeeds: Int): Array[Array[Byte]] =
    Array.tabulate(nSeeds)(j => (j.toString + ":").getBytes(StandardCharsets.UTF_8))

  /** THE per-seed minimum loop: for each seed j, the smallest raw digest
    * md5("j:" + element) over the non-null elements (null when there are
    * none). Unsigned byte order over an MD5 digest IS the lexicographic
    * order of its lowercase-hex encoding, so these are array_min's
    * winners. */
  private[graft] def seedMinima(arr: ArrayData, prefixes: Array[Array[Byte]],
                                md: java.security.MessageDigest): Array[Array[Byte]] = {
    val nSeeds = prefixes.length
    val mins = new Array[Array[Byte]](nSeeds)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) { // array_min skips null elements
        val bytes = arr.getUTF8String(i).getBytes
        var j = 0
        while (j < nSeeds) {
          md.reset()
          md.update(prefixes(j))
          md.update(bytes)
          val dig = md.digest()
          if (mins(j) == null ||
              java.util.Arrays.compareUnsigned(dig, mins(j)) < 0) mins(j) = dig
          j += 1
        }
      }
      i += 1
    }
    mins
  }

  /** Lowercase hex of a digest. */
  private[graft] def hex(d: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(d.length * 2)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }
}
