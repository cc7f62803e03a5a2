package graft.encode

import graft.profile.ColumnProfile
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Encoder defaults (reference src/encode.py:31-33). */
final case class EncoderParams(
    numHarmonics: Int = 200,
    intervalEpsilon: Double = 0.01,
    rangeEpsilon: Double = 0.01)

/** One modality block of the fused vector. The layout (block order +
  * per-block dim) is THE single source of truth shared by product and query
  * encoders — the reference keeps the two sides aligned only by duplicated
  * iteration order (src/encode.py:103 vs :187); here misalignment is
  * unrepresentable (SURVEY.md §2.5 V5).
  */
sealed trait Block {
  def name: String
  def dim: Int
  /** Executor-side encoding: an ArrayType(Double) column of exactly `dim`. */
  def encode: Column
}

/** V1 one-hot over the sorted vocabulary (reference src/encode.py:70-71,
  * pd.get_dummies: sorted distinct columns, NaN row → all zeros). */
final case class SparseBlock(name: String, vocab: Seq[String]) extends Block {
  val dim: Int = vocab.size
  def encode: Column =
    array(vocab.map(v => when(col(name) === v, 1.0).otherwise(0.0)): _*)
}

/** V2 binary ±1 (reference src/encode.py:72-75): first value → −1, second
  * → +1, null → 0. Value order = sorted (pinned convention, Profiler doc). */
final case class BinaryBlock(name: String, v0: String, v1: String) extends Block {
  val dim = 1
  def encode: Column = array(
    when(col(name).isNull, 0.0)
      .when(col(name).cast("string") === v1, 1.0)
      .otherwise(-1.0))
}

/** V3 geolocation (reference src/encode.py:76-84): unit-sphere cartesian
  * (null → zeros), shift dim 1, null-indicator −1/0. 5 dims. */
final case class GeoBlock(name: String, lonCol: String, latCol: String) extends Block {
  val dim = 5
  private def isNull = col(lonCol).isNull || col(latCol).isNull
  def encode: Column = {
    val lonR = radians(col(lonCol)); val latR = radians(col(latCol))
    array(
      when(isNull, 0.0).otherwise(cos(latR) * cos(lonR)),
      when(isNull, 0.0).otherwise(cos(latR) * sin(lonR)),
      when(isNull, 0.0).otherwise(sin(latR)),
      lit(1.0),
      when(isNull, -1.0).otherwise(0.0))
  }
}

/** V4 dense numerical (reference src/encode.py:85-100): min-max scale ×
  * (1−range_ε), half-circle Fourier (2), shift 1, full-circle K harmonics
  * σ-damped interleaved (2K), shift 1, null-indicator. 2K+5 dims.
  * NaN/null → zeros inside the Fourier blocks (src/encode.py:422).
  */
final case class DenseBlock(name: String, min: Double, max: Double,
                            params: EncoderParams) extends Block {
  val dim: Int = 2 * params.numHarmonics + 5
  /** Scaled input x̂ = (1−range_ε)·scale(x); the whole 2K+5 block is then
    * emitted by the native codegen DenseFourierBlock expression (one
    * primitive loop — the HOF formulation costs ~190 µs/row at K=200). */
  def encode: Column = {
    val c = col(name).cast("double")
    val x = lit(1 - params.rangeEpsilon) *
      (lit(2.0) * (c - min) / (max - min) - 1.0)
    org.apache.spark.sql.graft.DenseFourierBlock.block(x, params.numHarmonics)
  }
}

/** Text-embedding block: a pre-existing ArrayType column (precomputed
  * embeddings table or HashingEmbedder output), L2-normalized upstream. */
final case class TextBlock(name: String, dim: Int) extends Block {
  def encode: Column = col(name).cast("array<double>")
}

/** Image modality block: a binary payload column (PNG/JPEG/GIF/BMP via
  * [[graft.multimodal.Multimodal.imageIo]], synthetic fake-header via
  * `default`) becomes a zero-centered L2-normalized mean-luma contrast
  * signature on a fixed gridW×gridH grid, plus a null indicator (0
  * decoded / −1 undecodable — the [[GeoBlock]] convention). The signature
  * contract lives in ONE function
  * ([[org.apache.spark.sql.graft.ImageGridMath.signature]]) shared with
  * the query encoder, so product/query alignment is by construction.
  * Extends the reference's modality concept (src/encode.py:103 block
  * concat) to the media payloads its UI never indexes. */
final case class ImageBlock(name: String, gridW: Int = 4, gridH: Int = 4,
    codec: graft.multimodal.Multimodal.Codec =
      graft.multimodal.Multimodal.imageIo) extends Block {
  val dim: Int = gridW * gridH + 1
  /** Null payloads take the undecodable block (zeros + −1 indicator) via
    * coalesce — the expression itself is null-in→null-out. */
  def encode: Column = coalesce(
    org.apache.spark.sql.graft.ImageLumaGrid.block(col(name), gridW, gridH, codec),
    array((Seq.fill(gridW * gridH)(0.0) :+ -1.0).map(lit): _*))
}

/** Ordered fused-vector layout (reference block concat, src/encode.py:103).
  * Offsets locate each block inside the one fused vector, so a query can
  * address few modalities (SURVEY.md §4 physical layout).
  */
final case class VectorLayout(blocks: Seq[Block]) {
  val dim: Int = blocks.map(_.dim).sum
  def offsets: Map[String, Int] =
    blocks.scanLeft(0)(_ + _.dim).zip(blocks).map { case (off, b) => b.name -> off }.toMap
}

object ProductEncoder {

  /** Append the fused vector (`fused_vec`): every block's `encode`
    * concatenated in layout order, and no other column, so a persisted
    * index holds each block once. Narrow projection — no shuffle; at scale
    * this pipelines straight into the parquet write.
    */
  def encode(df: DataFrame, layout: VectorLayout): DataFrame =
    df.withColumn("fused_vec", concat(layout.blocks.map(_.encode): _*))

  /** Layout builder: the optional text block, then one block per aux
    * column in the given order — a geo block for a `geoCols` column, else
    * the block of its profiled modality kind (Profiler inference). */
  def layoutFor(auxCols: Seq[String], profiles: Map[String, ColumnProfile],
                params: EncoderParams, textBlock: Option[TextBlock] = None,
                geoCols: Map[String, (String, String)] = Map.empty): VectorLayout = {
    import graft.profile.ModalityKind._
    val aux = auxCols.map { c =>
      geoCols.get(c) match {
        case Some((lon, lat)) => GeoBlock(c, lon, lat)
        case None =>
          val p = profiles(c)
          p.kind match {
            case Binary =>
              val (v0, v1) = p.binaryValues
              BinaryBlock(c, v0, v1)
            case Sparse => SparseBlock(c, p.distinctSorted)
            case Dense => DenseBlock(c, p.min, p.max, params)
            case Geolocation => sys.error(s"geo column '$c' has no geoCols entry")
          }
      }
    }
    VectorLayout(textBlock.toSeq ++ aux)
  }
}
