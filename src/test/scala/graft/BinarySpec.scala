package graft

import graft.search.Search
import org.apache.spark.sql.functions._

/** Binary quantization (sim7): per-dimension mean thresholds, sign bits
  * packed 64-per-long, Hamming shortlist + exact refine. The oracle row
  * hash-proves the 64-dim fit→pack→Hamming→refine pipeline; this spec pins
  * what the hash can't see — the multi-word packing for dim > 64 (the
  * fused-vector sizes), the sign-bit (bit 63) edge, the compression
  * contract, threshold balance, and recall vs the exact ranking.
  */
class BinarySpec extends SparkSpec {

  private val dim = 64

  private lazy val emb =
    Tables.embeddings(spark, sf("sf0.001")).select(col("vec_id"), col("embedding"))

  private lazy val base = emb.select(col("vec_id").cast("long").as("id"),
    Search.asDouble(col("embedding")).as("v"))

  test("packing: ⌈dim/64⌉ words; bit 63 lands on the long's sign bit") {
    import spark.implicits._
    // 130 dims → 3 words; thresholds 0 → bit i = v_i > 0
    val th = Array.fill(130)(0.0)
    val allPos = Seq((1L, Array.fill(130)(1.0))).toDF("id", "v")
    val words = allPos.select(Search.bqSignatures(col("v"), th).as("sig"))
      .head().getSeq[Long](0)
    assert(words.length == 3)
    // words 0 and 1 have all 64 bits set (== -1L, sign bit included);
    // word 2 has the low 130-128 = 2 bits
    assert(words(0) == -1L && words(1) == -1L && words(2) == 3L)
    // strict >: a value equal to its threshold contributes NO bit
    val atTh = Seq((1L, Array.fill(130)(0.0))).toDF("id", "v")
    val zw = atTh.select(Search.bqSignatures(col("v"), th).as("sig"))
      .head().getSeq[Long](0)
    assert(zw.forall(_ == 0L))
  }

  test("multi-word Hamming == naive per-dimension bit-difference count") {
    import spark.implicits._
    val d = 130
    val rnd = new scala.util.Random(7)
    val rows = (0 until 20).map(i => (i.toLong, Array.fill(d)(rnd.nextGaussian())))
    val df = rows.toDF("id", "v")
    val th = Search.bqThresholds(df, "v", d)
    val sigs = df.select(col("id"), Search.bqSignatures(col("v"), th).as("sig"))
    val a = sigs.select(col("id").as("a_id"), col("sig").as("a_sig"))
    val b = sigs.select(col("id").as("b_id"), col("sig").as("b_sig"))
    val got = a.crossJoin(b)
      .select(col("a_id"), col("b_id"),
        Search.hammingDistance(col("a_sig"), col("b_sig")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val bits = rows.map { case (id, v) =>
      id -> v.indices.map(i => v(i) > th(i)).toArray
    }.toMap
    for ((i, _) <- rows; (j, _) <- rows) {
      val naive = bits(i).indices.count(x => bits(i)(x) != bits(j)(x)).toLong
      assert(got((i, j)) == naive, s"pair ($i,$j)")
    }
  }

  test("native BqSignature == HOF twin, bit-for-bit (64 and 405 dims)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    for (d <- Seq(64, 405)) {
      val rows = (0 until 30).map(i => (i.toLong, Array.fill(d)(rnd.nextGaussian())))
      val df = rows.toDF("id", "v")
      val th = Search.bqThresholds(df, "v", d)
      val both = df.select(
          Search.bqSignatures(col("v"), th).as("nat"),
          ReferenceTwins.bqSignaturesHof(col("v"), th).as("hof"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"dim $d drifted")
      }
    }
  }

  test("compression contract + threshold balance on the embeddings fixture") {
    val th = Search.bqThresholds(base, "v", dim)
    assert(th.length == dim)
    val sigs = base.select(Search.bqSignatures(col("v"), th).as("sig"))
    assert(sigs.head().getSeq[Long](0).length == 1) // 64 dims = ONE long
    // the mean threshold splits each dimension away from degenerate
    // all-0/all-1 bits (random corpus: expect near 50/50)
    val n = base.count().toDouble
    val fracs = (0 until dim).map { i =>
      base.filter(element_at(col("v"), i + 1) > th(i)).count() / n
    }
    assert(fracs.forall(f => f > 0.2 && f < 0.8),
      s"degenerate bit balance: min=${fracs.min} max=${fracs.max}")
    info(f"bit balance across $dim dims: [${fracs.min}%.2f, ${fracs.max}%.2f]; " +
      s"compression ${dim * 8} bytes/vector → 8 bytes")
  }

  test("binary shortlist + exact refine recall vs exact cosine top-k") {
    val k = 10
    val got = Search.knnBinary(emb, "embedding", "vec_id",
        queryIds = Seq(0L, 1L, 2L), dim = dim, k = k, shortlist = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val rows = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < a.length) { ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1 }
      ab / (math.sqrt(aa) * math.sqrt(bb))
    }
    def exactTop(q: Long) = rows.toSeq.filter(_._1 != q)
      .map { case (id, v) => (id, cos(rows(q), v)) }
      .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
    val recalls = Seq(0L, 1L, 2L).map { q =>
      val mine = got.filter(_._1 == q).map(_._2).toSet
      assert(mine.size == k)
      exactTop(q).count(mine.contains).toDouble / k
    }
    info(s"binary(shortlist=40)+refine recall@$k per query: ${recalls.mkString(", ")}")
    // 1-bit codes on a random corpus are the adversarial case; the floor
    // is above-chance retrieval, not SQ8's near-exactness (the trade the
    // 64× compression buys). Measured: see info line.
    assert(recalls.forall(_ >= 0.3), s"below floor: $recalls")
  }
}
