package graft

import graft.search.{Quantizer, Search}
import org.apache.spark.sql.functions._

/** Matryoshka prefix-truncation retrieval (sim9): shortlist on the first
  * prefixDim coordinates, exact full-dim cosine refine. The oracle row
  * hash-proves the 16/64 pipeline; this spec pins what the hash can't
  * see — the degeneracy contract (prefix = full dim ⇒ exact ranking),
  * recall scaling with the prefix width (the MRL knob), and the
  * shortlist-size bound.
  */
class MrlSpec extends SparkSpec {

  private val dim = 64
  private val k = 10

  private lazy val emb =
    Tables.embeddings(spark, sf("sf0.001")).select(col("vec_id"), col("embedding"))

  private lazy val rows = emb.collect().map(r =>
    r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
    while (i < a.length) { ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1 }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  private def exactTop(q: Long): Seq[Long] = rows.toSeq.filter(_._1 != q)
    .map { case (id, v) => (id, cos(rows(q), v)) }
    .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1).toSeq

  private def recallAt(prefixDim: Int, shortlist: Int): Seq[Double] = {
    val got = Search.knn(emb, "embedding", "vec_id",
        queryIds = Seq(0L, 1L, 2L), k = k, Quantizer.mrl(prefixDim),
        shortlist = shortlist)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    Seq(0L, 1L, 2L).map { q =>
      val mine = got.filter(_._1 == q).map(_._2).toSet
      assert(mine.size == k, s"expected $k results for q=$q, got ${mine.size}")
      exactTop(q).count(mine.contains).toDouble / k
    }
  }

  test("prefix = full dim degenerates to the exact ranking (recall 1.0)") {
    // with prefixDim = dim the shortlist stage scores the true cosine, so
    // any shortlist ≥ k returns exactly the exact top-k
    val r = recallAt(prefixDim = dim, shortlist = k)
    assert(r.forall(_ == 1.0), s"full-prefix must be exact: $r")
  }

  test("recall grows with prefix width at fixed shortlist (the MRL knob)") {
    val byPrefix = Seq(8, 16, 32).map(p => p -> recallAt(p, shortlist = 4 * k))
    byPrefix.foreach { case (p, r) =>
      info(f"prefix=$p%2d recall@$k per query: ${r.map(x => f"$x%.2f").mkString(", ")}")
    }
    val means = byPrefix.map { case (p, r) => p -> r.sum / r.size }.toMap
    // random iid coordinates are the adversarial case for truncation
    // (no energy concentration in the prefix, unlike trained MRL
    // embeddings) — the floor is above-chance retrieval, and the knob
    // must not DEGRADE as the prefix widens
    assert(means(8) >= 0.2, s"prefix=8 below floor: ${means(8)}")
    assert(means(32) >= means(8) - 0.1,
      s"recall collapsed as prefix widened: $means")
  }

  test("results come only from the prefix shortlist; pscore is the prefix cosine") {
    val prefixDim = 16
    val shortlist = 4 * k
    val got = Search.knn(emb, "embedding", "vec_id",
        queryIds = Seq(0L), k = k, Quantizer.mrl(prefixDim), shortlist = shortlist)
      .collect()
    // driver twin of the shortlist stage
    val qp = rows(0L).take(prefixDim)
    val short = rows.toSeq.filter(_._1 != 0L)
      .map { case (id, v) =>
        (id, BigDecimal(cos(qp, v.take(prefixDim))).setScale(5,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (id, s) => (-s, id) }.take(shortlist)
    val shortIds = short.map(_._1).toSet
    val pscoreOf = short.toMap
    got.foreach { r =>
      val id = r.getLong(1)
      assert(shortIds.contains(id), s"result $id not in the prefix shortlist")
      assert(math.abs(r.getDouble(2) - pscoreOf(id)) < 1e-9,
        s"pscore drifted for $id: ${r.getDouble(2)} vs ${pscoreOf(id)}")
    }
  }
}
