package graft

import graft.search.Search
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PackedVectors

/** Packed binary vector format: lossless roundtrip and dot parity with
  * the array form. */
class PackedVectorsSpec extends SparkSpec {

  test("pack→unpack roundtrip is lossless; dotPacked == dot") {
    import spark.implicits._
    val r = new scala.util.Random(3)
    val rows = Seq.tabulate(100) { i =>
      (i.toLong, Array.fill(37)(r.nextDouble() * 200 - 100))
    }
    val df = rows.toDF("id", "v")
    val q = Array.fill(37)(r.nextDouble() - 0.5)
    val out = df.select(
        col("id"),
        PackedVectors.unpack(PackedVectors.pack(col("v"))).as("rt"),
        PackedVectors.dotPacked(PackedVectors.pack(col("v")), typedLit(q)).as("dp"),
        Search.dot(col("v"), typedLit(q)).as("d"))
      .collect()
    val orig = rows.toMap
    out.foreach { row =>
      val id = row.getLong(0)
      assert(row.getSeq[Double](1).toArray.sameElements(orig(id)), s"roundtrip id=$id")
      assert(row.getDouble(2) == row.getDouble(3), s"dot mismatch id=$id")
    }
  }
}
