package graft

import graft.search.{Quantizer, Search}
import org.apache.spark.sql.functions._

/** Scalar quantization SQ8 (sim6): per-dimension min/max fit, byte encode,
  * and dequantized asymmetric scoring. The oracle row hash-proves the
  * fit→encode→dequantize→dot pipeline; this spec pins the properties the
  * hash can't see — the compression contract (dim BYTES per vector), the
  * per-dimension error bound that makes SQ8 the near-exact lever, recall
  * vs the exact ranking, and the degenerate constant-dimension path.
  */
class SqSpec extends SparkSpec {

  private val dim = 64

  private lazy val emb =
    Tables.embeddings(spark, sf("sf0.001")).select(col("vec_id"), col("embedding"))

  private lazy val base = emb.select(col("vec_id").cast("long").as("id"),
    Search.asDouble(col("embedding")).as("v"))

  test("codes: dim bytes per vector, every code in [0, 255]") {
    import org.apache.spark.sql.graft.PqCodes
    val (mins, maxs) = Search.sqParams(base, "v", dim)
    assert(mins.length == dim && maxs.length == dim)
    assert(mins.indices.forall(i => mins(i) <= maxs(i)))
    val packed = base.select(PqCodes.pack(Search.sqCodes(col("v"), mins, maxs)).as("sq"))
      .collect().map(_.getAs[Array[Byte]](0))
    // the compression contract is literal: dim bytes stand in for dim doubles
    assert(packed.forall(_.length == dim))
    val codes = base.select(Search.sqCodes(col("v"), mins, maxs).as("c"))
      .collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == dim && c.forall(x => x >= 0 && x <= 255)))
    info(s"compression: ${dim * 8} bytes/vector → $dim bytes")
  }

  test("dequantization error ≤ Δ_i/510 + ulp per dimension (near-exact lever)") {
    val (mins, maxs) = Search.sqParams(base, "v", dim)
    val rows = base.collect().map(r => r.getSeq[Double](1).toArray)
    rows.foreach { v =>
      var i = 0
      while (i < dim) {
        val d = maxs(i) - mins(i)
        if (d > 0) {
          val c = math.round((v(i) - mins(i)) / d * 255).toInt
          val dq = mins(i) + c * d / 255.0
          // half-step quantization bound (+ fp slack for the rounded ops)
          assert(math.abs(dq - v(i)) <= d / 510.0 * (1 + 1e-9) + 1e-12,
            s"dim $i: v=${v(i)} dq=$dq Δ=$d")
        }
        i += 1
      }
    }
  }

  test("SQ8 top-k ≈ exact IP top-k; scores match a driver recompute") {
    val k = 10
    val sq = Search.knn(emb, "embedding", "vec_id",
        queryIds = Seq(0L, 1L, 2L), k = k, Quantizer.sq8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val rows = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def exactTop(q: Long) = rows.toSeq.filter(_._1 != q)
      .map { case (id, v) => (id, (rows(q), v).zipped.map(_ * _).sum) }
      .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
    // 8-bit quantization error is tiny next to the IP spread even on the
    // near-uniform random corpus (PQ's adversarial case): assert a HIGH
    // floor where PqSpec could only assert above-chance
    val recalls = Seq(0L, 1L, 2L).map { q =>
      val got = sq.filter(_._1 == q).map(_._2).toSet
      exactTop(q).count(got.contains).toDouble / k
    }
    info(s"SQ8 recall@$k vs exact IP per query: ${recalls.mkString(", ")}")
    assert(recalls.forall(_ >= 0.8), s"SQ8 below near-exact floor: $recalls")
    // driver recompute of one query's scores from the same fit params
    val (mins, maxs) = Search.sqParams(base, "v", dim)
    val q0 = rows(0L)
    val expected = rows.toSeq.filter(_._1 != 0L).map { case (id, v) =>
      var s = 0.0; var i = 0
      while (i < dim) {
        val d = maxs(i) - mins(i)
        val dq = if (d == 0.0) mins(i)
          else mins(i) + math.round((v(i) - mins(i)) / d * 255).toDouble * d / 255.0
        s += dq * q0(i); i += 1
      }
      (id, BigDecimal(s).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0)
    }.sortBy { case (id, s) => (-s, id) }.take(k)
    val got0 = sq.filter(_._1 == 0L).sortBy(_._3).reverse.map(r => (r._2, r._3))
    assert(got0.toSeq == expected,
      s"driver ADC recompute mismatch:\n got $got0\n exp $expected")
  }

  test("constant dimension: code 0, dequantizes to the constant exactly") {
    import spark.implicits._
    val df = Seq(
      (0L, Seq(1.5, 7.0, -2.0)),
      (1L, Seq(1.5, 9.0, 4.0)),
      (2L, Seq(1.5, 8.0, 1.0))).toDF("id", "v")
    val (mins, maxs) = Search.sqParams(df, "v", 3)
    assert(mins(0) == 1.5 && maxs(0) == 1.5)
    val codes = df.orderBy("id")
      .select(Search.sqCodes(col("v"), mins, maxs).as("c"))
      .collect().map(_.getSeq[Int](0))
    assert(codes.forall(_.head == 0))
    // full pipeline survives the degenerate dimension
    val out = Search.knn(df, "v", "id", queryIds = Seq(0L), k = 2, Quantizer.sq8)
      .collect()
    assert(out.length == 2)
  }
}
