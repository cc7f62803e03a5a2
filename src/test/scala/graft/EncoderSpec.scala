package graft

import graft.encode._
import graft.profile.{ModalityKind, Profiler}
import graft.query._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** End-to-end encode alignment: the executor-side block columns
  * (ProductEncoder) must produce vectors whose dot with the driver-side
  * query vector (QueryEncoder) matches the closed-form modality semantics —
  * the invariant the reference maintains only by construction
  * (src/encode.py:103 vs :187).
  */
class EncoderSpec extends SparkSpec {

  private val params = EncoderParams(numHarmonics = 8)

  private def itemsDf = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("city", StringType),
      StructField("booked", StringType),
      StructField("price", DoubleType),
      StructField("lon", DoubleType),
      StructField("lat", DoubleType)))
    val rows = Seq(
      Row(0L, "agra", "Yes", 10.0, 10.0, 50.0),
      Row(1L, "pune", "No", 55.0, -120.0, -30.0),
      Row(2L, "agra", null, 100.0, 77.0, 20.0),
      Row(3L, null, "Yes", null, null, null),
      Row(4L, "goa", "No", 70.0, 0.0, 0.0))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  test("profile infers modality kinds and sorted vocab") {
    val p = Profiler.profile(itemsDf, Seq("city", "booked", "price"))
    assert(p("city").kind == ModalityKind.Sparse)
    assert(p("city").distinctSorted == Seq("agra", "goa", "pune"))
    assert(p("booked").kind == ModalityKind.Binary)
    assert(p("booked").binaryValues == ("No", "Yes"))
    assert(p("price").kind == ModalityKind.Dense)
    assert(p("price").min == 10.0 && p("price").max == 100.0)
    assert(p("city").nNulls == 1 && p("price").nNulls == 1)
  }

  test("fused product/query dot matches closed-form modality semantics") {
    val df = itemsDf
    val profiles = Profiler.profile(df, Seq("city", "booked", "price"))
    val layout = VectorLayout(Seq(
      SparseBlock("city", profiles("city").distinctSorted),
      BinaryBlock("booked", "No", "Yes"),
      DenseBlock("price", 10.0, 100.0, params),
      GeoBlock("geo", "lon", "lat")))
    val encoded = ProductEncoder.encode(df, layout)
    val vecs = encoded.select("id", "fused_vec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

    assert(vecs.values.forall(_.length == layout.dim))

    val q = QueryEncoder.encode(
      layout,
      Map(
        "city" -> SparseFilter("city", Seq("agra", "goa")),
        "booked" -> BinaryFilter("booked", "Yes"),
        "price" -> DensePointFilter("price", 55.0),
        "geo" -> GeoFilter("geo", 11.0, 49.0)),
      farthest = g => (-120.0, -30.0)) // row 1 is farthest from (11,49)

    // sparse: +#matching... dot of one-hot row with ±1 vector = +1 if row's
    // value selected else −1; null row → 0
    def dotBlock(id: Long, block: String): Double = {
      val off = layout.offsets(block)
      val b = layout.blocks.find(_.name == block).get
      (off until off + b.dim).map(i => vecs(id)(i) * q(i)).sum
    }
    assert(math.abs(dotBlock(0, "city") - 1.0) < 1e-12) // agra selected
    assert(math.abs(dotBlock(1, "city") + 1.0) < 1e-12) // pune not selected
    assert(dotBlock(3, "city") == 0.0)                  // null row

    assert(math.abs(dotBlock(0, "booked") - 1.0) < 1e-12) // Yes == v1
    assert(math.abs(dotBlock(1, "booked") + 1.0) < 1e-12)
    assert(dotBlock(2, "booked") == 0.0)

    // dense centroid: closed form scale·cos(π/2(x̂−v̂)) + shift, null → −1·(nullw)
    val v55 = FourierMath.scaleTo(55.0, 10.0, 100.0)
    val cEnc = FourierMath.centroidEncoding(v55)
    def denseExpected(x: Double): Double = {
      val xs = (1 - params.rangeEpsilon) * FourierMath.scaleTo(x, 10.0, 100.0)
      FourierMath.dot(FourierMath.halfCircle(xs) :+ 1.0, cEnc)
    }
    assert(math.abs(dotBlock(1, "price") - denseExpected(55.0)) < 1e-9)
    assert(math.abs(dotBlock(4, "price") - denseExpected(70.0)) < 1e-9)
    // null row: only the constant shift dims and the −1 null indicator
    // survive → dot = centroidShift − 1 (matches reference: np.ones shift
    // dims are unconditional, src/encode.py:94-96)
    assert(math.abs(dotBlock(3, "price") - (cEnc(2) - 1.0)) < 1e-12)

    // geo: +1 at ~query point, −1 at farthest, null → geoShift − 1
    assert(dotBlock(0, "geo") > 0.9)      // (10,50) ≈ query (11,49)
    assert(math.abs(dotBlock(1, "geo") + 1.0) < 1e-9) // farthest row
    val gEnc = FourierMath.geoEncoding(11.0, 49.0, -120.0, -30.0)
    assert(math.abs(dotBlock(3, "geo") - (gEnc(3) - 1.0)) < 1e-9)

    // fused dot = sum of block dots (no text block here)
    val full0 = FourierMath.dot(vecs(0L), q)
    val sum0 = Seq("city", "booked", "price", "geo").map(dotBlock(0L, _)).sum
    assert(math.abs(full0 - sum0) < 1e-9)
  }

  test("encode adds only fused_vec: each block's encode alone, concatenated, bit for bit") {
    import org.apache.spark.sql.functions.{col, element_at, lit, typedLit, when}
    val img = png(8, 8)((x, y) => x * 20 + y)
    // −0.0 and NaN in the text vector, −0.0 longitude, NaN price, plus a
    // null in every aux modality and in the image payload
    val text = Seq(Seq(0.5, -0.0), Seq(Double.NaN, 1.0), Seq(-0.0, -0.0),
      Seq(0.0, 0.25), null, Seq(1.0, Double.NegativeInfinity))
    val df = itemsDf
      .union(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(5L, "pune", "Yes", Double.NaN, -0.0, -0.0)), 1), itemsDf.schema))
      .withColumn("text_vec", element_at(
        typedLit(text), (col("id") + 1).cast("int")))
      .withColumn("img", when(col("id") % 2 === 0, lit(img)))
    val layout = VectorLayout(Seq(
      TextBlock("text_vec", 2),
      SparseBlock("city", Seq("agra", "goa", "pune")),
      BinaryBlock("booked", "No", "Yes"),
      DenseBlock("price", 10.0, 100.0, params),
      GeoBlock("geo", "lon", "lat"),
      ImageBlock("img", 2, 2)))
    val encoded = ProductEncoder.encode(df, layout)
    assert(encoded.columns.toSeq == df.columns.toSeq :+ "fused_vec")
    def bits(v: Seq[Double]): Seq[Long] =
      if (v == null) null else v.map(java.lang.Double.doubleToRawLongBits)
    val fused = encoded.select("id", "fused_vec").collect()
      .map(r => r.getLong(0) -> bits(r.getSeq[Double](1))).toMap
    val alone = layout.blocks.map { b =>
      df.select(col("id"), b.encode).collect()
        .map(r => r.getLong(0) -> bits(r.getSeq[Double](1))).toMap
    }
    assert(fused.size == 6)
    fused.foreach { case (id, got) =>
      val blocks = alone.map(_(id))
      // concat is null when any block is (only the null text vector here)
      val want = if (blocks.contains(null)) null else blocks.flatten
      assert(got == want, s"id $id")
    }
    assert(fused(4L) == null && fused.values.count(_ == null) == 1)
    val stored = fused.values.filter(_ != null).flatten.toSet
    assert(stored.contains(java.lang.Double.doubleToRawLongBits(-0.0)))
    assert(stored.exists(b => java.lang.Double.longBitsToDouble(b).isNaN))
  }

  test("interval query: rows inside the interval outrank rows far outside") {
    val df = itemsDf
    val layout = VectorLayout(Seq(DenseBlock("price", 10.0, 100.0, params)))
    val encoded = ProductEncoder.encode(df, layout)
    val vecs = encoded.select("id", "fused_vec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val q = QueryEncoder.encode(layout,
      Map("price" -> DenseIntervalFilter("price", 40.0, 80.0)))
    def score(id: Long) = FourierMath.dot(vecs(id), q)
    assert(score(1L) > score(0L))  // 55 in [40,80]; 10 far below
    assert(score(4L) > score(2L))  // 70 in; 100 out
  }

  test("no-filter query block contributes zero for non-null rows") {
    val df = itemsDf
    val layout = VectorLayout(Seq(DenseBlock("price", 10.0, 100.0, params)))
    val encoded = ProductEncoder.encode(df, layout)
    val vecs = encoded.select("id", "fused_vec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val qNone = QueryEncoder.encode(layout, Map.empty)
    assert(qNone.forall(_ == 0.0))
    // NoFilter (valueless but present) still penalizes nulls via the +1 dim
    val qNo = QueryEncoder.encode(layout, Map("price" -> NoFilter("price")))
    assert(FourierMath.dot(vecs(0L), qNo) == 0.0)
    assert(FourierMath.dot(vecs(3L), qNo) == -1.0)
  }

  test("fuseInto (mapPartitions) == fuseColumns (Column expr) weighted fusion") {
    import spark.implicits._
    val e = HashingEmbedder(16)
    val df = Seq((1L, "alpha beta", "gamma"), (2L, "delta", ""),
      (3L, "", "")).toDF("id", "t1", "t2")
    val w = Map("t1" -> 0.4, "t2" -> 0.6)
    val viaCol = df.select(org.apache.spark.sql.functions.col("id"),
        ReferenceTwins.fuseColumns(e, w).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val viaMp = Embedders.fuseInto(df, e, w, "v")
      .select("id", "v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    viaCol.foreach { case (id, v) =>
      v.zip(viaMp(id)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-12, s"id=$id")
      }
    }
  }

  test("HashingEmbedder: driver and column paths agree; deterministic") {
    val e = HashingEmbedder(32)
    import spark.implicits._
    // non-ASCII inputs exercise the ASCII-normalization contract: ascii()
    // (UTF-8 byte) vs charAt (UTF-16 unit) diverge unless both sides strip
    // non-ASCII before hashing
    val texts = Seq("the quick brown fox", "pack my box", "",
      "Café São Paulo İstanbul kebap", "日本語テキスト mixed ascii tail")
    val fromCol = texts.toDF("t")
      .select(ReferenceTwins.hashingEmbedHof(e, org.apache.spark.sql.functions.col("t")))
      .collect().map(_.getSeq[Double](0).toArray)
    texts.zip(fromCol).foreach { case (t, v) =>
      val d = e.embed(t)
      assert(d.length == 32 && v.length == 32)
      d.zip(v).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12, s"text '$t'") }
    }
    // L2-normalized (or zero for empty)
    val n0 = math.sqrt(fromCol(0).map(x => x * x).sum)
    assert(math.abs(n0 - 1.0) < 1e-9)
    assert(fromCol(2).forall(_ == 0.0))
  }
}
