package org.apache.spark.sql.graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftKernel.{column, expr}
import org.apache.spark.sql.types._
import scala.util.control.NonFatal

/** Native expression behind the image modality block (`ImageBlock`): a
  * per-row, zero-shuffle decode → mean-pool → contrast-signature pipeline
  * producing the `gridW·gridH + 1` block the fused-vector engine indexes.
  *
  * The SIGNATURE contract (pinned by ImageBlockSpec, shared verbatim with
  * the driver-side query encoder via [[ImageGridMath.signature]] — product
  * and query sides literally call the same function, so they cannot drift):
  *
  *   1. decode the payload with the configured [[Multimodal.Codec]] to a
  *      row-major 8-bit luma plane (real PNG/JPEG/GIF/BMP via `imageIo`,
  *      WAV/AVI via their codecs' plane mapping, fake-header synthetic
  *      payloads via `default`);
  *   2. mean-pool the plane onto a fixed gridW×gridH grid — cell (gy,gx)
  *      averages pixel rows [gy·h/gh, (gy+1)·h/gh) × cols [gx·w/gw,
  *      (gx+1)·w/gw) (integer bounds, clamped non-empty, Long sums:
  *      platform-stable);
  *   3. zero-center the grid (subtract its own mean): raw luma grids are
  *      all-positive and near-parallel — centering turns the block into a
  *      CONTRAST signature whose cosine actually separates images;
  *   4. L2-normalize (flat images → zero vector, norm guard 1e-12), so the
  *      fused inner product contributes cosine ∈ [−1, 1] like the text
  *      block;
  *   5. append the null indicator: 0.0 decoded, −1.0 undecodable — the
  *      GeoBlock convention, so a query's always-+1 indicator dim scores
  *      missing/corrupt images −w.
  *
  * Decode failures (hostile bytes, unknown container) are the INDICATOR
  * path, never a task failure: the codecs' own guards (64M-pixel header
  * cap, overflow-safe RIFF walk) throw, we catch and emit the
  * undecodable block. 100-TB shape: narrow projection over the payload
  * column, no shuffle; payload bytes stay in the Tungsten row until this
  * expression's eval touches them, and the output is 8·(gw·gh+1) bytes —
  * the scan's output is ~1000× smaller than its input, exactly what you
  * want feeding a parquet index write.
  */
case class ImageLumaGrid(child: Expression, gridW: Int, gridH: Int,
                         codec: Multimodal.Codec)
  extends GraftKernel1[Array[Byte]] {

  require(gridW > 0 && gridH > 0, s"grid ${gridW}x$gridH must be positive")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_image_luma_grid"

  /** The product-side block: signature + indicator (steps 1–5). */
  def compute(payload: Array[Byte]): ArrayData = {
    val n = gridW * gridH
    val sig = ImageGridMath.signature(codec, payload, gridW, gridH)
    val out = new Array[Double](n + 1)
    if (sig == null) out(n) = -1.0
    else System.arraycopy(sig, 0, out, 0, n)
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

object ImageLumaGrid {
  def block(payload: Column, gridW: Int, gridH: Int,
            codec: Multimodal.Codec): Column =
    column(ImageLumaGrid(expr(payload), gridW, gridH, codec))
}

object ImageGridMath {

  /** Steps 1–4 of the contract (decode → pool → center → normalize).
    * Returns the gw·gh signature, or null when the payload is null or no
    * codec path can decode it. THE shared product/query function. */
  def signature(codec: Multimodal.Codec, payload: Array[Byte],
                gw: Int, gh: Int): Array[Double] = {
    if (payload == null) return null
    val decoded =
      try codec.decode(payload)
      catch { case NonFatal(_) => null }
    if (decoded == null) return null
    val (w, h, px) = decoded
    if (w <= 0 || h <= 0 || px == null || px.length < w.toLong * h) return null
    val n = gw * gh
    val out = new Array[Double](n)
    var gy = 0
    while (gy < gh) {
      // Long bound math: gy·h etc. can overflow Int for wide planes (a
      // 300 MB WAV maps to w ≈ 3e8 frames; the fake-header codec's w is
      // payload-controlled) — the quotient always fits back in Int
      val y0 = (gy.toLong * h / gh).toInt
      val y1 = math.max(((gy + 1).toLong * h / gh).toInt, y0 + 1)
      var gx = 0
      while (gx < gw) {
        val x0 = (gx.toLong * w / gw).toInt
        val x1 = math.max(((gx + 1).toLong * w / gw).toInt, x0 + 1)
        var sum = 0L
        var y = y0
        while (y < y1) {
          val row = y * w
          var x = x0
          while (x < x1) { sum += (px(row + x) & 0xff); x += 1 }
          y += 1
        }
        out(gy * gw + gx) = sum.toDouble / ((y1 - y0).toLong * (x1 - x0))
        gx += 1
      }
      gy += 1
    }
    // zero-center: all-positive luma means are near-parallel across images;
    // the residual-around-the-mean is the part cosine can rank on
    var mean = 0.0
    var i = 0
    while (i < n) { mean += out(i); i += 1 }
    mean /= n
    var norm2 = 0.0
    i = 0
    while (i < n) { out(i) -= mean; norm2 += out(i) * out(i); i += 1 }
    if (norm2 < 1e-12) {
      // flat image: zero signature (contributes 0 to any query, like a
      // NoFilter block), still "decoded" for the indicator
      java.util.Arrays.fill(out, 0.0)
      return out
    }
    val inv = 1.0 / math.sqrt(norm2)
    i = 0
    while (i < n) { out(i) *= inv; i += 1 }
    out
  }

}
