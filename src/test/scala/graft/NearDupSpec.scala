package graft

import graft.dedup.{IncrementalDedup, NearDup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The near-dup spine (`NearDup`) against driver brute force, on small
  * generated corpora over a 5-word vocabulary so band buckets collide
  * (token sets and bigram sets both repeat), with null, empty, blank and
  * one-token texts mixed in and caps that bite (1, 2) or never do (1000).
  * Shingle sets and bucket rows are read back from Spark (the kernels
  * have their own specs); every relational step after them — the capped
  * pair rule, the verify join, the screen decision and the cap fold — is
  * recomputed on the driver. */
class NearDupSpec extends SparkSpec {
  import spark.implicits._

  private val Cases = 6
  private val vocab = Seq("a", "b", "c", "d", "e")

  private val words: Gen[String] =
    Gen.choose(2, 8).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))).map(_.mkString(" "))

  /** Most texts are a pool text verbatim or one word longer or shorter,
    * so buckets hold several documents and near-copies straddle τ. */
  private def text(pool: Seq[String]): Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.oneOf("", "   "),
    1 -> Gen.oneOf(vocab),
    3 -> words,
    6 -> Gen.oneOf(pool).flatMap(t => Gen.oneOf(
      Gen.const(t),
      Gen.oneOf(vocab).map(w => s"$t $w"),
      Gen.const(t.split(" ").dropRight(1).mkString(" ")))))

  private val pools: Gen[Seq[String]] = Gen.listOfN(3, words)

  /** Distinct ids drawn from [lo, hi), each with a text over `pool`. */
  private def corpus(lo: Int, hi: Int, pool: Seq[String]): Gen[Seq[(Long, String)]] = for {
    n <- Gen.choose(3, math.min(12, hi - lo))
    ids <- Gen.pick(n, (lo until hi).map(_.toLong))
    texts <- Gen.listOfN(n, text(pool))
  } yield ids.toSeq.sorted.zip(texts)

  private def capOf(c: Int): Int = Seq(1, 2, 1000)(c % 3)

  /** τ on the boundary: one of the Jaccards the case actually produces
    * (so `>=` vs `>` shows), or 0.5 when there is none. */
  private def tauAmong(js: Iterable[Double], c: Int): Double = {
    val v = js.toSeq.distinct.sorted
    if (v.isEmpty) 0.5 else v(c % v.size)
  }

  private def sample[T](g: Gen[T], c: Int, salt: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(salt * 1000L + c))

  private def df(docs: Seq[(Long, String)]): DataFrame = docs.toDF("doc_id", "text")

  private def shingleMap(sh: DataFrame): Map[Long, Set[String]] =
    sh.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) Set.empty[String] else r.getSeq[String](1).toSet)).toMap

  private def bucketRows(bk: DataFrame): Seq[(Long, String)] =
    bk.select("doc_id", "bucket").collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  private def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  /** The cap rule on the driver: all pairs of a bucket with at most `cap`
    * rows, (min, member) star pairs above it. */
  private def bruteCandidates(rows: Seq[(Long, String)], cap: Int): Set[(Long, Long)] =
    rows.groupBy(_._2).values.flatMap { rs =>
      val ids = rs.map(_._1)
      if (ids.size <= cap) for (a <- ids; b <- ids if a < b) yield (a, b)
      else ids.filter(_ != ids.min).map(ids.min -> _)
    }.toSet

  private def pairs(d: DataFrame): Seq[(Long, Long)] =
    d.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("candidatePairs follows the capped pair rule, one row per pair") {
    for (c <- 0 until Cases; n <- Seq(1, 2)) {
      val docs = sample(pools.flatMap(corpus(0, 40, _)), c, 1)
      val cap = capOf(c)
      val bk = NearDup.buckets(NearDup.shingles(df(docs), "doc_id", "text", n)).persist()
      try {
        val got = pairs(NearDup.candidatePairs(bk, "doc_id", cap))
        assert(got.size == got.toSet.size, s"duplicate pair rows: $got")
        assert(got.toSet == bruteCandidates(bucketRows(bk), cap),
          s"case $c, n = $n, cap = $cap, docs = $docs")
      } finally { bk.unpersist(); () }
    }
  }

  test("one-corpus verify keeps exactly the candidates with Jaccard >= tau") {
    for (c <- 0 until Cases) {
      val docs = sample(pools.flatMap(corpus(0, 40, _)), c, 3)
      val cap = capOf(c)
      val sh = NearDup.shingles(df(docs), "doc_id", "text", 2).persist()
      val bk = NearDup.buckets(sh).persist()
      try {
        val cand = NearDup.candidatePairs(bk, "doc_id", cap).persist()
        val sets = shingleMap(sh)
        val tau = tauAmong(pairs(cand).map { case (a, b) => jaccard(sets(a), sets(b)) }, c)
        val want = pairs(cand).filter { case (a, b) => jaccard(sets(a), sets(b)) >= tau }.toSet
        val got = pairs(NearDup.verify(cand, sh, tau))
        assert(got.size == got.toSet.size && got.toSet == want,
          s"case $c, cap = $cap, tau = $tau, docs = $docs")
        cand.unpersist()
      } finally { bk.unpersist(); sh.unpersist(); () }
    }
    val j = Seq((Seq.empty[String], Seq.empty[String]), (Seq("x"), Seq("x", "y")))
      .toDF("a", "b").select(NearDup.jaccard(col("a"), col("b"))).collect()
    assert(j(0).isNullAt(0) && j(1).getDouble(0) == 0.5, j.toSeq)
  }

  test("screen, screenPrepared and screenPartitioned(prune = false) decide alike, as brute force") {
    for (c <- 0 until Cases) {
      // base ids [0, 20), delta ids [12, 32): ids 12..19 may sit on both sides
      val pool = sample(pools, c, 6)
      val base = sample(corpus(0, 20, pool), c, 7)
      val delta = sample(corpus(12, 32, pool), c, 13)
      val cap = capOf(c)
      val bsh = IncrementalDedup.shingled(df(base), "doc_id", "text").persist()
      val bb = IncrementalDedup.bucketsOf(bsh).persist()
      def decisions(d: DataFrame): Map[Long, (Boolean, Long)] = {
        val rows = d.collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2))))
        assert(rows.length == delta.size, s"one decision per delta doc: ${rows.toSeq}")
        rows.toMap
      }
      try {
        // driver: capped partners per base bucket, delta buckets probe them
        val bSets = shingleMap(bsh)
        val dSh = IncrementalDedup.shingled(df(delta), "doc_id", "text")
        val dSets = shingleMap(dSh)
        val partners = bucketRows(bb).groupBy(_._2).map { case (bucket, rs) =>
          bucket -> (if (rs.size <= cap) rs.map(_._1).toSet else Set(rs.map(_._1).min))
        }
        val dBuckets = bucketRows(IncrementalDedup.bucketsOf(dSh)).groupBy(_._1)
        val cand = delta.map { case (id, _) =>
          id -> dBuckets.getOrElse(id, Nil)
            .flatMap { case (_, b) => partners.getOrElse(b, Set.empty[Long]) }.distinct
        }
        // a doc's best Jaccard as τ: its decision sits on the boundary
        val tau = tauAmong(cand.collect { case (id, ps) if ps.nonEmpty =>
          ps.map(p => jaccard(dSets(id), bSets(p))).max }, c)
        val want = cand.map { case (id, ps) =>
          val hits = ps.filter(p => jaccard(dSets(id), bSets(p)) >= tau)
          id -> (if (hits.isEmpty) (true, -1L) else (false, hits.min))
        }.toMap
        val screened = decisions(IncrementalDedup.screen(
          df(base), df(delta), "doc_id", "text", tau, cap))
        val prepared = decisions(IncrementalDedup.screenPrepared(
          bsh, bb, df(delta), "doc_id", "text", tau, cap))
        val canonical = decisions(IncrementalDedup.screenPartitioned(
          bsh, NearDup.partners(NearDup.members(bb), cap), 1, canonical = true,
          df(delta), "doc_id", "text", tau, prune = false, cap))
        val refolded = decisions(IncrementalDedup.screenPartitioned(
          bsh, NearDup.members(bb), 1, canonical = false,
          df(delta), "doc_id", "text", tau, prune = false, cap))
        val ctx = s"case $c, cap = $cap, tau = $tau, base = $base, delta = $delta"
        assert(screened == want, ctx)
        assert(prepared == want && canonical == want && refolded == want, ctx)
      } finally { bb.unpersist(); bsh.unpersist(); () }
      spark.catalog.clearCache()
    }
  }

  test("partners over a saved fold plus appended cnt = 1 rows == partners over the grown table") {
    def fold(rows: DataFrame, cap: Int): Set[(String, Long, Long)] =
      NearDup.partners(rows, cap).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    for (c <- 0 until Cases) {
      val pool = sample(pools, c, 10)
      val saved = sample(corpus(0, 20, pool), c, 11)
      val appended = sample(corpus(20, 40, pool), c, 14)
      val cap = capOf(c)
      val bkOf = (docs: Seq[(Long, String)]) =>
        NearDup.buckets(NearDup.shingles(df(docs), "doc_id", "text", 1))
      val savedFold = NearDup.partners(NearDup.members(bkOf(saved)), cap)
      val grownRows = savedFold.unionByName(NearDup.members(bkOf(appended)))
      val got = fold(grownRows, cap)
      val want = fold(NearDup.members(bkOf(saved ++ appended)), cap)
      assert(got == want, s"case $c, cap = $cap, saved = $saved, appended = $appended")
      // and the fold itself is the cap rule on the driver
      val rows = bucketRows(bkOf(saved ++ appended))
      val brute = rows.groupBy(_._2).flatMap { case (bucket, rs) =>
        if (rs.size <= cap) rs.map(r => (bucket, r._1, 1L))
        else Seq((bucket, rs.map(_._1).min, rs.size.toLong))
      }.toSet
      assert(want == brute, s"case $c, cap = $cap")
    }
  }
}
