package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CentroidDelta

/** Differential pin: the native residual kernel must match the
  * zip_with/element_at HOF it replaced, bit for bit, nulls included. */
class CentroidDeltaSpec extends SparkSpec {

  test("CentroidDelta == zip_with(v, cents[cid], x - c)") {
    import spark.implicits._
    val cents = Array(
      Array(0.25, -1.5, 3.0, 0.0),
      Array(1.0, 2.0, -0.125, 4.5),
      Array(-3.25, 0.5, 0.75, -2.0))
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      (i.toLong, Seq.fill(4)(rnd.nextDouble() * 10 - 5), rnd.nextInt(3))
    }
    val df = rows.toDF("id", "v", "cid")
      .union(Seq((999L, null.asInstanceOf[Seq[Double]], 0)).toDF("id", "v", "cid"))
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val out = df.select(col("id"),
      CentroidDelta.delta(col("v"), col("cid"), cents).as("native"),
      zip_with(col("v"), element_at(centsLit, col("cid") + 1),
        (x, c) => x - c).as("hof")).collect()
    out.foreach { r =>
      if (r.isNullAt(1) || r.isNullAt(2)) {
        assert(r.isNullAt(1) && r.isNullAt(2), s"null mismatch for id=${r.getLong(0)}")
      } else {
        assert(r.getSeq[Double](1) == r.getSeq[Double](2),
          s"delta differs for id=${r.getLong(0)}")
      }
    }
  }

  test("CentroidDelta: null cid → null in interpreted and codegen modes; value equality") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}
    val cents = Array(Array(0.25, -1.5), Array(1.0, 2.0))
    val e = CentroidDelta(BoundReference(0, ArrayType(DoubleType), nullable = true),
      BoundReference(1, IntegerType, nullable = true), cents)
    assert(e.nullable)
    val v = new GenericArrayData(Array[Any](1.0, 1.0))
    // (row, the zip_with/element_at form's answer)
    val cases = Seq(
      InternalRow(v, null) -> None, // null cid: null, never centroid 0
      InternalRow(null, 1) -> None,
      InternalRow(null, null) -> None,
      InternalRow(v, 0) -> Some(Seq(0.75, 2.5)),
      InternalRow(v, 1) -> Some(Seq(0.0, -1.0)))
    val codegen = GenerateUnsafeProjection.generate(Seq(e))
    cases.foreach { case (row, want) =>
      val interpreted = Option(e.eval(row)).map(_.asInstanceOf[ArrayData].toDoubleArray().toSeq)
      val out = codegen(row)
      val generated = if (out.isNullAt(0)) None else Some(out.getArray(0).toDoubleArray().toSeq)
      assert(interpreted == want, s"interpreted $interpreted != $want for $row")
      assert(generated == want, s"codegen $generated != $want for $row")
    }
    // value equality over the centroid matrix (canonicalization / CSE)
    val twin = e.copy(cents = cents.map(_.clone()))
    assert(twin == e && twin.hashCode == e.hashCode)
    assert(e.copy(cents = Array(Array(0.25, -1.5), Array(1.0, 2.5))) != e)
    assert(e.copy(cid = BoundReference(0, IntegerType, nullable = true)) != e)
  }
}
