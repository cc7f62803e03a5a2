package org.apache.spark.sql.graft

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Param.param
import org.apache.spark.sql.types._

/** A [[Param]] bound is a drop-in for a double literal in a comparison:
  * Spark inserts the same casts for it, so `col <= param(b)` selects
  * exactly the rows `col <= b` selects, whatever the column type, the
  * bound's special values or the nulls in the column. The literal side
  * is also rewritten by the optimizer (a cast unwrapped into the
  * column's type), the Param side is not, which is what this checks. */
class ParamSpec extends SparkSpec {

  test("col <= param(b) selects the rows col <= b selects: int, long, double, decimal columns") {
    val schema = StructType(Seq(StructField("r", IntegerType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("d", DoubleType),
      StructField("m", DecimalType(12, 3))))
    def dec(s: String) = new java.math.BigDecimal(s)
    val rows = Seq(
      Row(0, -3, Long.MinValue, Double.NegativeInfinity, dec("-1.500")),
      Row(1, 0, 0L, -0.0, dec("0.000")),
      Row(2, 0, -1L, 0.0, dec("-0.001")),
      Row(3, 2, Long.MaxValue, Double.NaN, dec("2.500")),
      Row(4, Int.MaxValue, 7L, Double.PositiveInfinity, dec("999999999.999")),
      Row(5, null, null, null, null),
      Row(6, -1, 3L, 2.5, dec("2.499")),
      Row(7, Int.MinValue, 2L, -1e300, dec("-999999999.999")))
    // an RDD scan, so both predicates run in generated code (a local
    // relation would be filtered by the optimizer)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val bounds = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0,
      2.5, -1.5, 2.4999, 7.0, 1e300, -1e300, Long.MaxValue.toDouble, Int.MinValue.toDouble)
    def selected(p: org.apache.spark.sql.Column): Seq[Int] =
      df.filter(p).select("r").collect().map(_.getInt(0)).sorted.toSeq
    for (c <- Seq("i", "l", "d", "m"); b <- bounds) {
      val byLiteral = selected(col(c) <= b)
      assert(selected(col(c) <= param(b)) == byLiteral, s"$c <= $b")
      // the oracle's mask form: a null cell is false, not null
      val mask = df.select(col("r"), coalesce((col(c) <= param(b)).cast("boolean"), lit(false)))
        .collect().filter(_.getBoolean(1)).map(_.getInt(0)).sorted.toSeq
      assert(mask == byLiteral, s"mask $c <= $b")
    }
  }
}
