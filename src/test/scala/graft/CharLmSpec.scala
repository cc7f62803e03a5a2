package graft

import graft.queries.TextDedup
import org.apache.spark.sql.functions._

/** Char-trigram LM quality score (x23): the oracle row hash-proves
  * fit + scoring on the fixture; this spec pins the SIGNAL — the reason
  * the operator exists — on corpora the fixture can't express, plus the
  * degenerate edges.
  */
class CharLmSpec extends SparkSpec {

  test("gibberish scores below natural-ish text (the curation signal)") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // "natural" corpus: sentences built from a small word vocabulary —
    // repeated character patterns the trigram model learns
    val vocab = Seq("the", "quick", "brown", "fox", "jumps", "over",
      "lazy", "dog", "and", "runs", "far", "away", "home", "again")
    val natural = (0 until 40).map { i =>
      (i.toLong, (0 until 30).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // gibberish: uniform random characters — no learnable structure
    val gibberish = (0 until 10).map { i =>
      ((100 + i).toLong,
        (0 until 180).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    }
    val df = (natural ++ gibberish).toDF("doc_id", "text")
    val scores = TextDedup.charLmScores(df)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val natScores = natural.map(d => scores(d._1))
    val gibScores = gibberish.map(d => scores(d._1))
    info(f"natural mean ${natScores.sum / natScores.size}%.4f, " +
      f"gibberish mean ${gibScores.sum / gibScores.size}%.4f")
    // full separation: EVERY gibberish doc below EVERY natural doc
    assert(gibScores.max < natScores.min,
      s"LM score failed to separate: gib max ${gibScores.max} vs nat min ${natScores.min}")
  }

  test("TriCounts fit == exploded groupBy fit, cell for cell") {
    import spark.implicits._
    import org.apache.spark.sql.graft.{CharLmScore, TriCounts}
    val rnd = new scala.util.Random(47)
    // mixed corpus: natural-ish, gibberish, empty, sub-trigram, nulls —
    // every branch of the update loop
    val rows = (0 until 60).map { i =>
      val t = i % 6 match {
        case 0 => "the quick brown fox jumps over the lazy dog"
        case 1 => (0 until 50).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
        case 2 => ""
        case 3 => "ab"
        case 4 => null
        case _ => (0 until 30).map(_ =>
          if (rnd.nextBoolean()) ' ' else ('a' + rnd.nextInt(26)).toChar).mkString
      }
      (i.toLong, t)
    }
    val docs = rows.toDF("doc_id", "t")
    val fast = docs.select(TriCounts.triCounts(col("t")).as("c"))
      .head().getSeq[Long](0).toArray
    assert(fast.length == TriCounts.Cells)
    // reference fit: the exploded per-occurrence groupBy
    val slow = new Array[Long](TriCounts.Cells)
    docs.select(explode(when(length(col("t")) >= 3,
        transform(sequence(lit(1), length(col("t")) - 2),
          i => col("t").substr(i, lit(3)))))
        .as("g"))
      .groupBy("g").count().collect()
      .foreach(r => slow(CharLmScore.cellIndex(r.getString(0))) = r.getLong(1))
    assert(java.util.Arrays.equals(fast, slow),
      "TriCounts diverged from the exploded fit")
    assert(fast.sum > 0, "fixture produced an empty model")
  }

  test("TriCounts fails loudly on unnormalized input") {
    import spark.implicits._
    import org.apache.spark.sql.graft.TriCounts
    val ex = intercept[Exception] {
      Seq((1L, "Abc!")).toDF("doc_id", "t")
        .select(TriCounts.triCounts(col("t"))).head()
    }
    assert(ex.getMessage != null)
  }

  test("degenerate rows: short/empty/symbol-only texts get n_trigrams=0, null score") {
    import spark.implicits._
    val df = Seq(
      (1L, "ab"), (2L, ""), (3L, "12345 !!!"), (4L, "abc")
    ).toDF("doc_id", "text")
    val out = TextDedup.charLmScores(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSeq
    val byId = out.map(t => t._1 -> t).toMap
    // "ab" (2 chars), "" and "12345 !!!" (normalizes to " " — too short
    // after scrubbing digits/symbols... " " is 1 char): no trigrams
    assert(byId(1L)._2 == 0L && byId(1L)._3.isEmpty)
    assert(byId(2L)._2 == 0L && byId(2L)._3.isEmpty)
    assert(byId(3L)._2 == 0L && byId(3L)._3.isEmpty)
    // "abc": exactly one trigram; p = (1+1)/(1+27) = 1/14
    assert(byId(4L)._2 == 1L)
    assert(math.abs(byId(4L)._3.get.asInstanceOf[Double] - 2.0 / 28.0) < 1e-6)
  }

  test("frozen-fit scoring (x30): unseen trigrams hit the smoothing floor exactly") {
    import spark.implicits._
    // fit corpus knows only "abc"-trigrams; the scored doc is fully unseen
    val fit = Seq((1L, "abcabcabc")).toDF("doc_id", "text")
    val (n3, n2, _) = TextDedup.charLmFit(fit)
    val byId = TextDedup.charLmScoresWithModel(
        Seq((100L, "xyz"), (101L, "abc")).toDF("doc_id", "text"), n3, n2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // "xyz": one trigram, cell count 0, prefix "xy" count 0 → (0+1)/(0+27)
    assert(byId(100L)._1 == 1L)
    assert(math.abs(byId(100L)._2 - 1.0 / 27.0) < 1e-6,
      s"unseen trigram must score the smoothing floor, got ${byId(100L)._2}")
    // "abc": fit saw 'abc' 3× ('abcabcabc' trigrams: abc,bca,cab,abc,bca,cab,abc);
    // prefix 'ab' total 3 → (3+1)/(3+27) = 4/30
    assert(byId(101L)._1 == 1L)
    assert(math.abs(byId(101L)._2 - 4.0 / 30.0) < 1e-6,
      s"seen trigram must score from the FROZEN counts, got ${byId(101L)._2}")
  }

  test("scaled-long table path == per-trigram Decimal fallback, bit-identical") {
    // round-17 pin: the precomputed scale-12 table (compute's fast
    // path) must reproduce the round-16 per-trigram Decimal loop
    // (scoreSlow) EXACTLY — same n, same mean double — across random
    // models and random normalized strings
    import org.apache.spark.sql.graft.CharLmScore
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(17)
    val alphabet = "abcdefghijklmnopqrstuvwxyz "
    for (trial <- 1 to 5) {
      val n3 = Array.fill(27 * 27 * 27)(rnd.nextInt(1000).toLong)
      val n2 = new Array[Long](27 * 27)
      var c = 0
      while (c < n3.length) { n2(c / 27) += n3(c); c += 1 }
      val expr = CharLmScore(
        org.apache.spark.sql.catalyst.expressions.Literal("x"), n3, n2)
      for (_ <- 1 to 60) {
        val len = rnd.nextInt(400)
        val s = (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
        val fast = expr.compute(UTF8String.fromString(s))
        val slow = expr.scoreSlow(s)
        assert(fast.getLong(0) == slow.getLong(0), s"trial $trial: n differs for '$s'")
        if (fast.getLong(0) == 0L) {
          assert(fast.isNullAt(1) && slow.isNullAt(1))
        } else {
          assert(java.lang.Double.doubleToLongBits(fast.getDouble(1)) ==
                 java.lang.Double.doubleToLongBits(slow.getDouble(1)),
            s"trial $trial: mean differs for '$s': ${fast.getDouble(1)} vs ${slow.getDouble(1)}")
        }
      }
    }
  }

  test("non-ASCII input routes to the char path before any byte is decoded") {
    // "Aé" is 3 bytes but 2 chars: the char path answers (0, null), and
    // the byte walk must not see the 'A' (which it would reject) first
    import org.apache.spark.sql.graft.CharLmScore
    import org.apache.spark.unsafe.types.UTF8String
    val expr = CharLmScore(org.apache.spark.sql.catalyst.expressions.Literal("x"),
      Array.fill(27 * 27 * 27)(1L), Array.fill(27 * 27)(27L))
    val fast = expr.compute(UTF8String.fromString("Aé"))
    val slow = expr.scoreSlow("Aé")
    assert(fast.getLong(0) == slow.getLong(0) && fast.getLong(0) == 0L)
    assert(fast.isNullAt(1) && slow.isNullAt(1))
  }
}
