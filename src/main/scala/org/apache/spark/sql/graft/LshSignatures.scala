package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftKernel.{column, expr}
import org.apache.spark.sql.types._

/** All random-hyperplane LSH signatures of a vector in one expression:
  * returns array<long> of length nTables, where signature t packs nBits
  * sign bits of the vector's dot products with that table's hyperplanes.
  *
  * One expression with the full plane matrix as a reference object replaces
  * nTables×nBits separate DotProduct(literal) columns — which bloat the
  * generated class constant pool (seconds of codegen compile) and re-read
  * the input array per plane. Here the input is traversed once per plane
  * in a tight loop; at serving scale (hundreds of planes × 1000+ dims)
  * this is the difference between usable and not.
  */
case class LshSignatures(child: Expression, planes: Array[Array[Double]],
                         nTables: Int, nBits: Int)
  extends GraftKernel1[ArrayData] {

  require(planes.length == nTables * nBits, "planes must be nTables*nBits rows")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_signatures"

  def compute(v: ArrayData): ArrayData = {
    val dim = v.numElements()
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var sig = 0L
      var b = 0
      while (b < nBits) {
        val p = planes(t * nBits + b)
        val n = math.min(dim, p.length)
        var s = 0.0
        var i = 0
        while (i < n) { s += v.getDouble(i) * p(i); i += 1 }
        if (s >= 0.0) sig |= (1L << b)
        b += 1
      }
      out(t) = sig
      t += 1
    }
    new GenericArrayData(out)
  }
}

object LshSignatures {
  /** Deterministic gaussian planes for (nTables × nBits) from a seed. */
  def planesFor(dim: Int, nBits: Int, nTables: Int, seed: Long): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nTables * nBits)(Array.fill(dim)(rng.nextGaussian()))
  }

  def signatures(vec: Column, planes: Array[Array[Double]],
                 nTables: Int, nBits: Int): Column =
    column(LshSignatures(expr(vec), planes, nTables, nBits))
}
