package graft

import graft.dedup.IncrementalDedup
import org.apache.spark.sql.functions._

/** IncrementalDedup.screen contract: every delta doc gets exactly one
  * decision row; verbatim and near-verbatim copies of base docs map to
  * the MIN-id base keeper; sub-shingle (one-token) and genuinely novel
  * docs stay novel; the candidate generation is an equi-join on band
  * bucket — never a cartesian product (plan-pinned); the base-side skew
  * cap degrades a hot bucket to its representative without losing the
  * verified decision. */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private val baseA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val baseB = "one two three four five six seven eight nine ten eleven"
  // near-copy of baseA: two words appended — shares all 9 of baseA's
  // bigrams and adds 2, so shingle Jaccard = 9/11 ≈ 0.818 (between the
  // τ=0.8 and τ=0.9 test thresholds)
  private val nearA = baseA + " lambda mu"

  private def screen(base: Seq[(Long, String)], delta: Seq[(Long, String)],
                     tau: Double = 0.8, cap: Int = 1000) =
    IncrementalDedup.screen(
        base.toDF("doc_id", "text"), delta.toDF("doc_id", "text"),
        "doc_id", "text", tau, cap)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap

  test("verbatim copy maps to the min-id base keeper; novel and sub-shingle docs stay novel") {
    val base = Seq((10L, baseA), (11L, baseA), (12L, baseB)) // 10 & 11 identical
    val delta = Seq(
      (100L, baseA),                  // verbatim copy → dup_of 10 (min id)
      (105L, "completely different words nowhere near the base corpus at all"),
      (110L, "single"))               // < 2 tokens → no shingles → novel
    val out = screen(base, delta)
    assert(out(100L) == ((false, 10L)), s"out=$out")
    assert(out(105L) == ((true, -1L)))
    assert(out(110L) == ((true, -1L)))
    assert(out.size == 3, "exactly one decision row per delta doc")
    spark.catalog.clearCache()
  }

  test("near-verbatim copy above τ is caught; τ raised above its Jaccard lets it through") {
    val base = Seq((10L, baseA), (12L, baseB))
    val delta = Seq((200L, nearA))
    // nearA shares all 9 of baseA's bigrams, adds 2 → Jaccard 9/11 ≈ 0.818
    val loose = screen(base, delta, tau = 0.8)
    assert(loose(200L) == ((false, 10L)), s"loose=$loose")
    val strict = screen(base, delta, tau = 0.9)
    assert(strict(200L) == ((true, -1L)), s"strict=$strict")
    spark.catalog.clearCache()
  }

  test("base-side skew cap: a hot bucket still yields the representative's verified decision") {
    // 50 identical base docs — one band bucket with 50 members; cap 10
    // degrades the bucket to its min-id rep (20), and the delta copy is
    // still verified against it
    val base = (20L to 69L).map(i => (i, baseA))
    val delta = Seq((300L, baseA), (301L, baseB))
    val out = screen(base, delta, cap = 10)
    assert(out(300L) == ((false, 20L)), s"out=$out")
    assert(out(301L) == ((true, -1L)), "baseB never entered the base side")
    spark.catalog.clearCache()
  }

  test("candidate generation never plans a cartesian product") {
    val base = Seq((10L, baseA), (12L, baseB)).toDF("doc_id", "text")
    val delta = Seq((100L, baseA)).toDF("doc_id", "text")
    val plan = IncrementalDedup.screen(base, delta, "doc_id", "text", 0.8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"incremental screen must stay equi-join only:\n$plan")
    spark.catalog.clearCache()
  }

  test("degenerate over-cap bucket: partner relation is deduped BEFORE the join (row bound holds)") {
    // hand-built bucket table: bucket "hot" has 1000 base members (cap 10
    // → collapses to ONE rep row), bucket "cold" has 3 (≤ cap → member
    // rows). The old shape emitted one identical (hot, rep) row per
    // member — 1000 rows — making the candidate join input
    // O(|base∩bucket| · |delta∩bucket|) on a near-constant corpus.
    val bb = ((1L to 1000L).map(i => ("hot", i)) ++
      Seq(("cold", 50L), ("cold", 51L), ("cold", 52L))).toDF("bucket", "doc_id")
    val partners = graft.dedup.NearDup.partners(graft.dedup.NearDup.members(bb), cap = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val hot = partners.filter(_._1 == "hot")
    assert(hot.toSeq == Seq(("hot", 1L)),
      s"over-cap bucket must contribute exactly its min-id rep once, got ${hot.length} rows")
    assert(partners.filter(_._1 == "cold").map(_._2).sorted.toSeq == Seq(50L, 51L, 52L))
    // end-to-end: 50 identical base docs (one hot bucket pair), cap 3 —
    // the decision is the rep's, and the candidate join input stays at
    // the star bound (≤ |delta buckets| + capped-bucket reps)
    val base = (20L to 69L).map(i => (i, baseA))
    val out = screen(base, Seq((300L, baseA)), cap = 3)
    assert(out(300L) == ((false, 20L)), s"out=$out")
    spark.catalog.clearCache()
  }

  test("overlapping base/delta ids: the side-tagged verify join keeps the shingle sets apart") {
    // base doc 10 = baseA; delta ALSO has a doc 10 but with DIFFERENT
    // text, plus doc 11 = a copy of baseA. Without the side tag the
    // unioned shingle relation would resolve id 10 to an arbitrary side.
    val base = Seq((10L, baseA), (12L, baseB))
    val delta = Seq((10L, "completely different words nowhere near the base corpus at all"),
      (11L, baseA))
    val out = screen(base, delta)
    assert(out(10L) == ((true, -1L)), s"delta doc 10 must be judged on ITS text, got $out")
    assert(out(11L) == ((false, 10L)), s"delta copy must map to base keeper 10, got $out")
    spark.catalog.clearCache()
  }

  test("null and empty texts never throw: they carry no shingles and stay novel") {
    val base = Seq((10L, baseA)).toDF("doc_id", "text")
    val delta = Seq((100L, null.asInstanceOf[String]), (101L, ""), (102L, "   "))
      .toDF("doc_id", "text")
    val out = IncrementalDedup.screen(base, delta, "doc_id", "text", 0.8)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(out == Map(100L -> ((true, -1L)), 101L -> ((true, -1L)), 102L -> ((true, -1L))),
      s"degenerate texts must get novel decisions, got $out")
    spark.catalog.clearCache()
  }

  test("empty delta yields an empty decision frame; empty base marks everything novel") {
    val none = Seq.empty[(Long, String)]
    assert(screen(Seq((10L, baseA)), none).isEmpty)
    val out = screen(none, Seq((100L, baseA)))
    assert(out(100L) == ((true, -1L)))
    spark.catalog.clearCache()
  }
}
