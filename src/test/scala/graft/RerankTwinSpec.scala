package graft

import graft.encode.ImageBlock
import graft.query._
import graft.rerank.Rerank
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** `Rerank.rerank`'s one-pass rank function against its window-chain
  * twin ([[ReferenceTwins.RerankWindows]]), bit for bit: on seeded random
  * result sets of 2–100 rows, every row's relevance bits and the
  * (relevance desc, id) row order agree. The sets hold nulls, ties, −0.0,
  * NaN, ±∞, non-ASCII and sentinel strings, null locations and
  * undecodable image payloads; the filters cover every kind. */
class RerankTwinSpec extends SparkSpec {

  private val Cases = 120

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("relevance", DoubleType),
    StructField("price", DoubleType), StructField("qty", LongType),
    StructField("city", StringType), StructField("flag", StringType),
    StructField("lon", DoubleType), StructField("lat", DoubleType),
    StructField("logo", BinaryType)))

  private lazy val logos = Seq(
    png(8, 8)((x, _) => x * 30), png(8, 8)((_, y) => y * 30), png(6, 6)((x, y) => (x * y) * 7))
  private val garbage = Array[Byte](1, 2, 3, 4)

  private val geoCols = Map("loc" -> ("lon", "lat"))
  private lazy val imageBlocks = Map("logo" -> ImageBlock("logo", 4, 4))

  private def orNull[T](g: Gen[T]): Gen[Any] = Gen.frequency(8 -> g, 1 -> Gen.const(null))

  private val specials: Gen[Double] =
    Gen.oneOf(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
  private val prices: Gen[Double] = Gen.frequency(
    4 -> Gen.oneOf(10.0, 55.0, 100.0, 70.0),
    4 -> Gen.choose(-50.0, 150.0),
    2 -> specials)
  private val cities: Gen[String] = Gen.oneOf("agra", "pune", "goa", "délhi", "日本",
    "a😀b", "x", "ÿ", " ", "'", "", "Agra")
  private val coords: Gen[(Double, Double)] = Gen.frequency(
    6 -> Gen.zip(Gen.choose(-180.0, 180.0), Gen.choose(-90.0, 90.0)),
    2 -> Gen.oneOf((10.0, 50.0), (-120.0, -30.0), (0.0, -0.0)))

  private def rowGen(id: Long): Gen[Row] = for {
    rel <- Gen.frequency[Any](8 -> Gen.choose(-1.0, 1.0), 2 -> Gen.oneOf(0.5, 0.0, -0.0),
      1 -> Gen.const(null))
    price <- orNull(prices)
    qty <- orNull(Gen.choose(0L, 4L))
    city <- orNull(cities)
    flag <- orNull(Gen.oneOf("Y", "N", "é"))
    loc <- Gen.frequency[Option[(Double, Double)]](8 -> coords.map(Some(_)),
      1 -> Gen.const(None))
    logo <- Gen.frequency[Array[Byte]](6 -> Gen.oneOf(logos), 2 -> Gen.const(garbage),
      1 -> Gen.const(null))
  } yield Row(id, rel, price, qty, city, flag,
    loc.map(p => p._1: Any).orNull, loc.map(p => p._2: Any).orNull, logo)

  private val weights = Gen.oneOf(0.5, 1.0, 1.5, 2.0, -1.0)

  private def filterGen(minMax: Map[String, (Double, Double)]): Gen[Filter] = {
    val (pMin, pMax) = minMax("price")
    val (qMin, qMax) = minMax("qty")
    Gen.oneOf(
      for (v <- Gen.oneOf(Gen.oneOf(pMin, pMax, 55.0), prices); neg <- Gen.oneOf(true, false);
           w <- weights) yield DensePointFilter("price", v, neg, w),
      for (v <- Gen.oneOf(qMin, qMax, 2.0); neg <- Gen.oneOf(true, false); w <- weights)
        yield DensePointFilter("qty", v, neg, w),
      for (a <- prices; b <- prices; neg <- Gen.oneOf(true, false); w <- weights)
        yield DenseIntervalFilter("price", math.min(a, b), math.max(a, b), neg, w),
      for ((lon, lat) <- coords; neg <- Gen.oneOf(true, false); w <- weights)
        yield GeoFilter("loc", lon + 0.25, lat / 2, neg, w),
      for (v <- Gen.oneOf("Y", "N", "é"); w <- weights) yield BinaryFilter("flag", v, w),
      for (sel <- Gen.someOf("agra", "日本", "a😀b", " ", "nowhere"); neg <- Gen.oneOf(true, false);
           w <- weights) yield SparseFilter("city", sel.toSeq.sorted, neg, w),
      for (q <- Gen.oneOf(logos); neg <- Gen.oneOf(true, false); w <- weights)
        yield ImageFilter("logo", q, neg, w),
      Gen.const(NoFilter("price")))
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  /** (id, relevance bits) in (relevance desc, id) order; NaN canonical,
    * −0.0 distinct from 0.0. */
  private def answer(df: DataFrame): Seq[(Long, Option[Long])] =
    df.orderBy(col("relevance").desc, col("id")).select("id", "relevance").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(1)))))
      .toSeq

  test(s"one-pass re-rank equals the window chain bit for bit on $Cases random sets") {
    val caseGen = for {
      n <- Gen.choose(2, 100)
      rows <- Gen.sequence[Seq[Row], Row]((0 until n).map(i => rowGen(i.toLong)))
      edge <- Gen.oneOf(true, false)
    } yield {
      def range(i: Int): (Double, Double) = {
        val vs = rows.flatMap(r => Option(r.get(i)))
          .map(_.asInstanceOf[Number].doubleValue).filterNot(_.isNaN)
        // the profile's min/max: data values (R1's highest/lowest shortcuts)
        // or a range none of them hits
        if (vs.isEmpty || !edge) (-1e9, 1e9) else (vs.min, vs.max)
      }
      (rows, Map("price" -> range(2), "qty" -> range(3)))
    }
    (0 until Cases).foreach { c =>
      val (rows, minMax) = caseGen.pureApply(Gen.Parameters.default, Seed(1000L + c))
      val filters = Gen.choose(1, 4).flatMap(m => Gen.listOfN(m, filterGen(minMax)))
        .pureApply(Gen.Parameters.default, Seed(5000L + c))
      val df = frame(rows)
      val got = answer(Rerank.rerank(df, filters, minMax, geoCols, imageBlocks))
      val want = answer(ReferenceTwins.RerankWindows.rerank(df, filters, minMax, geoCols,
        imageBlocks))
      assert(got == want, s"case $c: n=${rows.size} filters=$filters")
    }
  }

  test("a one-row result re-ranks to null relevance for a ranked modality, not an exception") {
    val one = frame(Seq(Row(0L, 0.75, 10.0, 1L, "agra", "Y", 1.0, 2.0, logos.head)))
    def rel(fs: Filter*): Option[Double] = {
      val r = Rerank.rerank(one, fs, Map("price" -> (0.0, 100.0)), geoCols, imageBlocks)
        .select("relevance").head()
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    assert(rel(DensePointFilter("price", 50.0)).isEmpty)
    assert(rel(SparseFilter("city", Seq("agra"))).isEmpty)
    assert(rel(GeoFilter("loc", 5.0, 5.0)).isEmpty)
    // no selected value present: the sparse modality is skipped (+ 0.0)
    assert(rel(SparseFilter("city", Seq("goa")), NoFilter("price")) == Some(0.75))
  }
}
