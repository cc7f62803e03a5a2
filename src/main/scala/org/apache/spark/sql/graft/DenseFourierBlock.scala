package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftKernel.{column, expr, NullPolicy, PassThrough}
import org.apache.spark.sql.types._

/** Native builder of the full dense (numerical) modality block
  * (reference src/encode.py:85-100): for an already min-max-scaled input x̂
  * (the (1−range_ε) factor applied by the caller),
  *
  *   [sin(πx̂/2), cos(πx̂/2), 1,
  *    sin(1·πx̂)σ₁, cos(1·πx̂)σ₁, …, sin(K·πx̂)σ_K, cos(K·πx̂)σ_K, 1,
  *    nullInd]
  *
  * — 2K+5 dims, null/NaN x̂ → zero Fourier terms and nullInd −1 (reference
  * NaN handling src/encode.py:363-369,422). σ is the Lanczos factor
  * (vectorized form: formula for every k).
  *
  * The built-in-HOF formulation (flatten(transform(sequence(1,K),…)))
  * evaluates ~2K interpreted lambdas and allocates per harmonic — ~190 µs
  * per row at K=200; this kernel is one primitive loop writing a single
  * double[] (~2 µs). The hot write-path operator of the engine.
  */
case class DenseFourierBlock(child: Expression, numHarmonics: Int)
  extends GraftKernel1[java.lang.Double] {

  require(numHarmonics >= 1)

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_dense_fourier"
  // null input must still produce the zero-block row (nullInd = −1)
  override def nullPolicy: NullPolicy = PassThrough

  private lazy val sigmas: Array[Double] =
    Array.tabulate(numHarmonics) { i =>
      val k = i + 1
      math.sin(math.Pi * k / numHarmonics) / (math.Pi * k / numHarmonics)
    }

  def compute(xBoxed: java.lang.Double): ArrayData = {
    val k = numHarmonics
    val out = new Array[Double](2 * k + 5)
    if (xBoxed == null || xBoxed.isNaN) {
      // zeros everywhere except the two shift dims and the null indicator
      out(2) = 1.0
      out(2 * k + 3) = 1.0
      out(2 * k + 4) = -1.0
    } else {
      val x = xBoxed.doubleValue
      out(0) = math.sin(math.Pi / 2 * x)
      out(1) = math.cos(math.Pi / 2 * x)
      out(2) = 1.0
      var i = 1
      while (i <= k) {
        val ang = i * math.Pi * x
        val s = sigmas(i - 1)
        out(2 * i + 1) = math.sin(ang) * s
        out(2 * i + 2) = math.cos(ang) * s
        i += 1
      }
      out(2 * k + 3) = 1.0
      out(2 * k + 4) = 0.0
    }
    new GenericArrayData(out)
  }
}

object DenseFourierBlock {
  def block(scaledX: Column, numHarmonics: Int): Column =
    column(DenseFourierBlock(expr(scaledX), numHarmonics))
}
