package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftKernel.{column, expr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native per-document SPAN MinHash signatures: semantically
  * `posexplode(split(trim(s), "\\s+"))` → span_idx = min(pos/span, k−1)
  * → `groupBy(span_idx).agg(min(md5("j:"+tok)) for j in 0..7)` collapsed
  * to ONE row-local byte scan returning
  * `array<struct<span_idx, h0..h7>>` in span order.
  *
  * Why it exists: x15's span signatures are a per-document quantity, but
  * min(STRING) aggregation can't run in a HashAggregate (var-width agg
  * buffer), so the explode+groupBy form pays a per-partition SORT of
  * every exploded token row before the partial aggregate — at sf10 that
  * sort plus 8 expression-level md5s per token row (each allocating a
  * digest and a 32-char hex string) was 3.2× the DuckDB twin. This
  * kernel walks the string's bytes once (the TokenCount/TermFreqs
  * contract), reuses a thread-local MessageDigest, compares RAW 16-byte
  * digests (hex encoding is byte-order-preserving, so min-by-hex ==
  * min-by-raw-unsigned-bytes) and hex-encodes only the 8·k winners.
  *
  * Span semantics (shared with the x15 oracle twin): tokens are the
  * split(trim(s), \s+) segments INCLUDING boundary empties (`""` → one
  * empty token); k = max(1, n_tok / span) disjoint spans; token at
  * 0-based position p belongs to span min(p/span, k−1) — the tail folds
  * into the last span, so every token is covered and no span is shorter
  * than the grain.
  *
  * Tokenization contract shared with [[TokenCount]]/[[TermFreqs]]
  * (pinned by SpanMinHashSpec's parity property): Spark `trim` strips
  * 0x20 only; Java `\s` is six ASCII bytes, so UTF-8 continuation bytes
  * can never alias a separator and the scan works on raw bytes.
  */
case class SpanMinHash(child: Expression, span: Int)
  extends GraftKernel1[UTF8String] {

  import SpanMinHash._

  require(span > 0, s"span must be positive: $span")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = SpanMinHash.OutType
  override def prettyName: String = "graft_span_minhash"

  /** Span MinHash signature rows for one document — see class doc. */
  def compute(s: UTF8String): ArrayData = {
    val bounds = TokenCount.spaceTrimBounds(s) // shared trim + \s contract
    val from = (bounds >>> 32).toInt
    val to = bounds.toInt
    val nTok = {
      // first pass: token count fixes k (the tail-fold needs it up front)
      var runs = 0
      var inWs = false
      var i = from
      while (i < to) {
        val ws = TokenCount.isWs(s.getByte(i))
        if (ws && !inWs) runs += 1
        inWs = ws
        i += 1
      }
      runs + 1
    }
    val k = math.max(1, nTok / span)

    // heap-backed strings digest straight from their backing array;
    // otherwise the trimmed region stages ONCE through the reusable buffer
    val (arr, arrOff) = s.getBaseObject match {
      case a: Array[Byte] =>
        (a, (s.getBaseOffset - org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET).toInt)
      case _ =>
        var buf = tlBuf.get()
        if (buf.length < to) { buf = new Array[Byte](Integer.highestOneBit(to) << 1); tlBuf.set(buf) }
        org.apache.spark.unsafe.Platform.copyMemory(
          s.getBaseObject, s.getBaseOffset + from, buf,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from, (to - from).toLong)
        (buf, 0)
    }

    val md = tlMd.get()
    val out = tlOut.get()
    // per-(span, hash) running minimum of the RAW digest bytes
    val mins = new Array[Byte](k * NumHashes * DigestLen)
    java.util.Arrays.fill(mins, 0xFF.toByte)

    var tokIdx = 0
    def feed(segStart: Int, segEnd: Int): Unit = {
      val sp = math.min(tokIdx / span, k - 1)
      var j = 0
      while (j < NumHashes) {
        md.reset()
        md.update(Prefixes(j))
        md.update(arr, arrOff + segStart, segEnd - segStart)
        md.digest(out, 0, DigestLen)
        // unsigned lexicographic compare vs the current (sp, j) min
        val base = (sp * NumHashes + j) * DigestLen
        var c = 0
        var cmp = 0
        while (c < DigestLen && cmp == 0) {
          cmp = (out(c) & 0xFF) - (mins(base + c) & 0xFF)
          c += 1
        }
        if (cmp < 0) System.arraycopy(out, 0, mins, base, DigestLen)
        j += 1
      }
      tokIdx += 1
    }
    var segStart = from
    var i = from
    while (i < to) {
      if (TokenCount.isWs(s.getByte(i))) {
        feed(segStart, i)
        i += 1
        while (i < to && TokenCount.isWs(s.getByte(i))) i += 1
        segStart = i
      } else i += 1
    }
    feed(segStart, to) // trailing segment (empty if the string ends in ws)

    val rows = new Array[Any](k)
    var sp = 0
    while (sp < k) {
      val fields = new Array[Any](1 + NumHashes)
      fields(0) = sp.toLong
      var j = 0
      while (j < NumHashes) {
        val base = (sp * NumHashes + j) * DigestLen
        val hex = new Array[Byte](DigestLen * 2)
        var c = 0
        while (c < DigestLen) {
          val b = mins(base + c) & 0xFF
          hex(2 * c) = HexChars(b >>> 4)
          hex(2 * c + 1) = HexChars(b & 0x0F)
          c += 1
        }
        fields(1 + j) = UTF8String.fromBytes(hex)
        j += 1
      }
      rows(sp) = new GenericInternalRow(fields)
      sp += 1
    }
    new GenericArrayData(rows)
  }
}

object SpanMinHash {

  private val NumHashes = 8
  private val DigestLen = 16

  val OutType: ArrayType = ArrayType(
    StructType(StructField("span_idx", LongType, nullable = false) +:
      (0 until NumHashes).map(j => StructField(s"h$j", StringType, nullable = false))),
    containsNull = false)

  // "0:".."7:" salt prefixes as raw ASCII, md5-input-ready
  private val Prefixes: Array[Array[Byte]] =
    (0 until NumHashes).map(j => s"$j:".getBytes("US-ASCII")).toArray

  private val HexChars = "0123456789abcdef".getBytes("US-ASCII")

  // per-thread reusable state: digest instance, token-bytes staging
  // buffer, digest output scratch (MessageDigest needs byte[] inputs, so
  // offheap-backed strings stage through `buf`; heap-backed ones digest
  // in place)
  private val tlMd = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))
  private val tlBuf = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](1 << 12))
  private val tlOut = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](DigestLen))

  /** Column-level span-minhash array over a string column. */
  def spanMinHash(c: Column, span: Int): Column =
    column(SpanMinHash(expr(c), span))
}
