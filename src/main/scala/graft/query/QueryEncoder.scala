package graft.query

import graft.encode.{Block, BinaryBlock, DenseBlock, FourierMath, GeoBlock, ImageBlock, SparseBlock, TextBlock, VectorLayout}
import graft.profile.Profiler
import graft.transform.FittedTransform
import org.apache.spark.sql.DataFrame

/** Query-side filter ADT (reference aux_data payloads,
  * src/encode.py:113-119): per modality a value (None → zero block) and a
  * weight (1 = neutral vs text, <1 suppress, >1 boost).
  */
sealed trait Filter {
  def column: String
  def weight: Double
}
/** Sparse selection; negation flips sign (reference src/encode.py:135-143). */
final case class SparseFilter(column: String, selection: Seq[String],
                              negated: Boolean = false, weight: Double = 1.0) extends Filter
/** Binary value match (reference src/encode.py:144-149). */
final case class BinaryFilter(column: String, value: String,
                              weight: Double = 1.0) extends Filter
/** Geolocation point (reference src/encode.py:150-161). */
final case class GeoFilter(column: String, lon: Double, lat: Double,
                           negated: Boolean = false, weight: Double = 1.0) extends Filter
/** Dense point/centroid; value in ORIGINAL units, mapped through the
  * column's fitted transform by [[Filter.transformed]].
  * "Lowest"/"Highest" = pass the column min/max. */
final case class DensePointFilter(column: String, value: Double,
                                  negated: Boolean = false, weight: Double = 1.0) extends Filter
/** Dense interval [lo, hi] in original units (reference src/encode.py:175-183). */
final case class DenseIntervalFilter(column: String, lo: Double, hi: Double,
                                     negated: Boolean = false, weight: Double = 1.0) extends Filter
/** Image-similarity filter: a query image payload (any format the block's
  * codec decodes). Negation flips the signature ("visually unlike this"). */
final case class ImageFilter(column: String, payload: Array[Byte],
                             negated: Boolean = false, weight: Double = 1.0) extends Filter
/** Explicit "no filter" for a modality: zero block, dims participate but
  * contribute 0 (reference value=None, src/encode.py:116-117). */
final case class NoFilter(column: String, weight: Double = 1.0) extends Filter

object Filter {
  /** A dense filter's point or bounds mapped through its column's fitted
    * transform: dense filter values arrive in ORIGINAL units, while a
    * transformed column is encoded, profiled and re-ranked in TRANSFORMED
    * units (reference src/app.py:273-290 transforms the bounds before
    * encode_query and encode_result). Bounds map in place, unordered — a
    * decreasing transform (Reciprocal) inverts the interval, as the
    * reference's does. Every other filter is returned as is. */
  def transformed(f: Filter, transforms: Map[String, FittedTransform]): Filter =
    (f, transforms.get(f.column)) match {
      case (p: DensePointFilter, Some(t)) => p.copy(value = t.applyScalar(p.value))
      case (i: DenseIntervalFilter, Some(t)) =>
        i.copy(lo = t.applyScalar(i.lo), hi = t.applyScalar(i.hi))
      case _ => f
    }
}

/** Driver-side query vector builder — the read-path twin of ProductEncoder
  * (reference encode_query, src/encode.py:107-189). All math is pure Scala;
  * the single data-dependent Spark job is the geolocation farthest-point
  * aggregate, injected via `farthest` (cache per rounded query point at
  * serving time — SURVEY.md §7.4 gotcha 8).
  */
object QueryEncoder {

  final case class Params(intervalEpsilon: Double = 0.01, rangeEpsilon: Double = 0.01)

  /** Encode the aux blocks of a query against a layout. `textVec` fills the
    * text block (already L2-normalized). `transforms` maps dense columns to
    * their fitted transform ([[Filter.transformed]] maps the filter values
    * through it). `farthest` resolves a geo column to the farthest point
    * from the query point.
    */
  def encode(layout: VectorLayout,
             filters: Map[String, Filter],
             textVec: Array[Double] = Array.empty,
             transforms: Map[String, FittedTransform] = Map.empty,
             farthest: GeoFilter => (Double, Double) = _ => sys.error("no farthest-point resolver"),
             params: Params = Params()): Array[Double] = {
    // An ImageFilter aimed at a non-image (or absent) block would silently
    // match no case below and contribute zeros — the same misconfiguration
    // is a loud sys.error in reranking mode (Rerank's strict imageBlocks
    // lookup). Fail identically loudly here so retrieval and rerank agree.
    filters.valuesIterator.foreach {
      case f: ImageFilter =>
        val ok = layout.blocks.exists {
          case b: ImageBlock => b.name == f.column
          case _ => false
        }
        if (!ok) sys.error(
          s"ImageFilter column '${f.column}' does not name an image block " +
            s"(image blocks: ${layout.blocks.collect { case b: ImageBlock => b.name }.mkString(", ")})")
      case _ => ()
    }
    val scaled = filters.map { case (c, f) => c -> Filter.transformed(f, transforms) }
    val out = Array.newBuilder[Double]
    layout.blocks.foreach {
      case TextBlock(_, dim) =>
        require(textVec.length == dim, s"text vector dim ${textVec.length} != $dim")
        out ++= textVec
      case b: SparseBlock => out ++= encodeSparse(b, scaled.get(b.name))
      case b: BinaryBlock => out ++= encodeBinary(b, scaled.get(b.name))
      case b: GeoBlock    => out ++= encodeGeo(b, scaled.get(b.name), farthest)
      case b: DenseBlock  => out ++= encodeDense(b, scaled.get(b.name), params)
      case b: ImageBlock  => out ++= encodeImage(b, scaled.get(b.name))
    }
    out.result()
  }

  private def weighted(block: Array[Double], w: Double): Array[Double] = block.map(_ * w)

  /** Q1 (reference src/encode.py:135-143): over sorted vocab, +1 if selected
    * else −1; negation flips; no filter → zeros. */
  def encodeSparse(b: SparseBlock, f: Option[Filter]): Array[Double] = f match {
    case Some(SparseFilter(_, sel, neg, w)) =>
      val s = sel.toSet
      val base = b.vocab.map(v => if (s.contains(v)) 1.0 else -1.0).toArray
      weighted(if (neg) base.map(-_) else base, w)
    case _ => new Array[Double](b.dim)
  }

  /** Q2 (reference src/encode.py:144-149): +1 iff value == second distinct. */
  def encodeBinary(b: BinaryBlock, f: Option[Filter]): Array[Double] = f match {
    case Some(BinaryFilter(_, v, w)) =>
      weighted(Array(if (v == b.v1) 1.0 else -1.0), w)
    case _ => new Array[Double](b.dim)
  }

  /** Q3 (reference src/encode.py:150-161): scale-and-shift of the query
    * cartesian against the farthest point; negation flips the 4 encoded
    * dims; null-indicator weight dim is always +1 (appended after negation). */
  def encodeGeo(b: GeoBlock, f: Option[Filter],
                farthest: GeoFilter => (Double, Double)): Array[Double] = f match {
    case Some(g @ GeoFilter(_, lon, lat, neg, w)) =>
      val (fLon, fLat) = farthest(g)
      val enc = FourierMath.geoEncoding(lon, lat, fLon, fLat)
      val signed = if (neg) enc.map(-_) else enc
      weighted(signed :+ 1.0, w)
    case _ => new Array[Double](b.dim)
  }

  /** Q4/Q5 (reference src/encode.py:162-184): centroid fills dims [0,3),
    * interval fills [3, 2K+4); null-indicator dim +1 appended for BOTH
    * (and for a present-but-valueless filter). Filter values are in the
    * block's (transformed) units. */
  def encodeDense(b: DenseBlock, f: Option[Filter], params: Params): Array[Double] = {
    val k = b.params.numHarmonics
    def scale(x: Double): Double = FourierMath.scaleTo(x, b.min, b.max)
    f match {
      case Some(DensePointFilter(_, v, neg, w)) =>
        val body = new Array[Double](2 * k + 4)
        val c = FourierMath.centroidEncoding(scale(v))
        val signed = if (neg) c.map(-_) else c
        Array.copy(signed, 0, body, 0, 3)
        weighted(body :+ 1.0, w)
      case Some(DenseIntervalFilter(_, lo, hi, neg, w)) =>
        val body = new Array[Double](2 * k + 4)
        val l = (1 - params.rangeEpsilon) * (scale(lo) - params.intervalEpsilon)
        val h = (1 - params.rangeEpsilon) * (scale(hi) + params.intervalEpsilon)
        val enc = FourierMath.intervalEncoding(l, h, k)
        val signed = if (neg) enc.map(-_) else enc
        Array.copy(signed, 0, body, 3, 2 * k + 1)
        weighted(body :+ 1.0, w)
      case Some(NoFilter(_, w)) =>
        weighted(new Array[Double](2 * k + 4) :+ 1.0, w)
      case _ => new Array[Double](b.dim)
    }
  }

  /** Image query: the SAME signature function the product expression runs
    * ([[org.apache.spark.sql.graft.ImageGridMath.signature]]), so the dot
    * against an indexed image is exactly the cosine of the two contrast
    * signatures. Indicator dim always +1·w after negation (Geo convention:
    * undecodable/missing product images score −w). An undecodable QUERY
    * payload is a caller error — loud, not a zero block. */
  def encodeImage(b: ImageBlock, f: Option[Filter]): Array[Double] = f match {
    case Some(ImageFilter(_, payload, neg, w)) =>
      val sig = org.apache.spark.sql.graft.ImageGridMath.signature(
        b.codec, payload, b.gridW, b.gridH)
      require(sig != null, s"query image for '${b.name}' is not decodable by the block codec")
      val signed = if (neg) sig.map(-_) else sig
      weighted(signed :+ 1.0, w)
    case Some(NoFilter(_, w)) => weighted(new Array[Double](b.dim - 1) :+ 1.0, w)
    case _ => new Array[Double](b.dim)
  }

  /** Farthest-point resolver backed by a Spark aggregate over the items
    * table (lon/lat column pair per geo block). */
  def sparkFarthest(df: DataFrame, geoCols: Map[String, (String, String)]): GeoFilter => (Double, Double) =
    g => {
      val (lonCol, latCol) = geoCols(g.column)
      Profiler.farthestPoint(df, lonCol, latCol, g.lon, g.lat)
    }
}
