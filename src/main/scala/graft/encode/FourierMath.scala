package graft.encode

/** Scalar (driver-side) twin of the Fourier/sigma/normalization math in the
  * reference encoder (reference src/encode.py:320-448). Shared by the query
  * encoder (pure driver math) and the ScalaTest golden tests; the product
  * (executor) side re-expresses the same formulas as Column expressions in
  * [[ProductEncoder]].
  */
object FourierMath {

  /** Lanczos sigma factor (reference `_sigma`, src/encode.py:441-448).
    * Vectorized form: applied to every harmonic k=1..K with the formula —
    * including k=1. Used by product-side encoding and dot_in/dot_out.
    */
  def sigmaVec(k: Int, bigK: Int): Double =
    math.sin(math.Pi * k / bigK) / (math.Pi * k / bigK)

  /** Scalar-call sigma with the reference's k==1 special case (`_sigma`
    * called with a single harmonic returns 1.0 when k==1 — hit by
    * `_integrate` and the half-circle encodings). k>=2 falls back to the
    * formula. Replicated exactly, including the asymmetry vs [[sigmaVec]].
    */
  def sigmaScalar(k: Int, bigK: Int): Double =
    if (k == 1) 1.0 else sigmaVec(k, bigK)

  /** Full-circle Fourier series of a scalar: interleaved
    * [sin(1·π·x)σ₁, cos(1·π·x)σ₁, ..., sin(K·π·x)σ_K, cos(K·π·x)σ_K]
    * (reference `_scalar_to_fourier_series`, src/encode.py:402-427).
    * NaN input → zero vector (NaN handling at 422).
    */
  def fourier(x: Double, bigK: Int, numHarmonics: Int): Array[Double] = {
    val out = new Array[Double](2 * numHarmonics)
    var k = 1
    while (k <= numHarmonics) {
      val s = sigmaVec(k, bigK)
      val sv = math.sin(k * math.Pi * x) * s
      val cv = math.cos(k * math.Pi * x) * s
      out(2 * (k - 1)) = if (sv.isNaN) 0.0 else sv
      out(2 * k - 1) = if (cv.isNaN) 0.0 else cv
      k += 1
    }
    out
  }

  /** Half-circle encoding: 1 harmonic at freq π/2, sigma 1
    * (reference src/encode.py:88-90,337). */
  def halfCircle(x: Double): Array[Double] =
    Array(math.sin(math.Pi / 2 * x), math.cos(math.Pi / 2 * x))
      .map(v => if (v.isNaN) 0.0 else v)

  def dot(a: Array[Double], b: Array[Double]): Double = {
    require(a.length == b.length, s"dim mismatch ${a.length} vs ${b.length}")
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Scale-and-shift normalization (reference `_scale_and_shift`,
    * src/encode.py:347-354): scale so dot with the farthest vector = −1,
    * append a shift dim making dot with itself = +1.
    */
  def scaleAndShift(input: Array[Double], farthest: Array[Double]): Array[Double] = {
    val dotMin = dot(input, farthest)
    val scale = 2.0 / (1.0 - dotMin)
    val scaled = input.map(_ * scale)
    val dotMax = dot(input, scaled)
    scaled :+ (1.0 - dotMax)
  }

  /** Centroid (dense point) encoding (reference `_centroid_encoding`,
    * src/encode.py:336-340): half-circle of the scaled value, normalized
    * against the opposite range end. 3 dims.
    */
  def centroidEncoding(scaledValue: Double): Array[Double] = {
    val v = halfCircle(scaledValue)
    val farthestValue = if (scaledValue < 0) 1.0 else -1.0
    scaleAndShift(v, halfCircle(farthestValue))
  }

  /** Analytic integral coefficients for harmonic k over [a, b]
    * (reference `_integrate`, src/encode.py:429-439). The 1/(b−a) factor
    * appears twice (norm_factor × the in-term divisor) — replicated as-is.
    * Uses the scalar-call sigma (σ(1)=1).
    */
  def integrate(a: Double, b: Double, k: Int, bigK: Int): (Double, Double) = {
    val norm = 1.0 / (b - a)
    val sig = sigmaScalar(k, bigK)
    val sinT = (math.cos(a * math.Pi * k) - math.cos(b * math.Pi * k)) / ((math.Pi * k) * (b - a))
    val cosT = (math.sin(b * math.Pi * k) - math.sin(a * math.Pi * k)) / ((math.Pi * k) * (b - a))
    (norm * sinT * sig, norm * cosT * sig)
  }

  /** Interval encoding (reference `_interval_encoding`, src/encode.py:320-334):
    * integral coefficients per harmonic, normalized so dot = +1 at the
    * interval midpoint and −1 at the farthest outside point. 2K+1 dims.
    * Bounds are already ε-adjusted by the caller.
    */
  def intervalEncoding(lo: Double, hi: Double, bigK: Int): Array[Double] = {
    val vector = new Array[Double](2 * bigK)
    var k = 1
    while (k <= bigK) {
      val (s, c) = integrate(lo, hi, k, bigK)
      vector(2 * (k - 1)) = s
      vector(2 * k - 1) = c
      k += 1
    }
    val pointIn = (lo + hi) / 2
    val pointOut =
      if (math.abs(lo + 1) > math.abs(1 - hi)) (lo - 1) / 2 else (hi + 1) / 2
    val dotIn = dot(fourier(pointIn, bigK, bigK), vector)
    val dotOut = dot(fourier(pointOut, bigK, bigK), vector)
    val scale = 2.0 / (dotIn - dotOut)
    val shift = (dotIn + dotOut) / 2
    vector.map(_ * scale) :+ (-scale * shift)
  }

  /** Min-max scale to [−1, 1] (reference `_scale`, src/encode.py:356-361). */
  def scaleTo(x: Double, min: Double, max: Double): Double =
    2.0 * ((x - min) / (max - min)) - 1.0

  /** Unit-sphere cartesian (reference `_geospatial_to_cartesian`,
    * src/encode.py:390-400). */
  def cartesian(lon: Double, lat: Double): Array[Double] = {
    val lonR = math.toRadians(lon); val latR = math.toRadians(lat)
    Array(math.cos(latR) * math.cos(lonR), math.cos(latR) * math.sin(lonR), math.sin(latR))
  }

  /** Haversine km (reference `_haversine_distance`, src/encode.py:371-388). */
  def haversineKm(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.pow(math.sin(dLon / 2), 2)
    2 * 6371.0 * math.asin(math.sqrt(a))
  }

  /** Geolocation query encoding (reference `_geospatial_encoding`,
    * src/encode.py:342-345): scale-and-shift of the query's cartesian
    * vector against the farthest point's. 4 dims.
    */
  def geoEncoding(qLon: Double, qLat: Double, farLon: Double, farLat: Double): Array[Double] =
    scaleAndShift(cartesian(qLon, qLat), cartesian(farLon, farLat))
}
