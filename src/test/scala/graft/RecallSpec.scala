package graft

import graft.encode._
import graft.eval.Eval
import graft.profile.Profiler
import graft.query._
import graft.queries.Vectors
import graft.search.Search
import org.apache.spark.sql.functions._

/** The reference's figure of merit (SURVEY.md §5): recall of the fused-
  * vector top-k against the hard-filter oracle top-k, asserted ≥ threshold
  * and non-decreasing in the harmonic count K (the property the paper's
  * sweeps establish; reference src/eval/evaluate.py).
  */
class RecallSpec extends SparkSpec {

  test("fused top-k recall vs hard-filter oracle; monotone in K") {
    val d = sf("sf0.001")
    val docs = Tables.documents(spark, d)
    val emb = Tables.embeddings(spark, d)
    val items = Embedders.precomputed(docs, emb, "doc_id", "vec_id", "embedding")
      .persist()
    val profs = Profiler.profile(items, Seq("lang", "n_chars"))
    val filters = Map[String, Filter](
      "lang" -> SparseFilter("lang", Seq("en")),
      "n_chars" -> DenseIntervalFilter("n_chars", 150.0, 350.0))
    // oracle: hard filter + text-score top-k
    val oracle = Eval.hardFilterTopK(items, "doc_id", "embedding", Vectors.QVEC,
      Seq(filters("lang"), filters("n_chars")), k = 20)
    assert(oracle.nonEmpty)

    def recallAtK(k: Int): Double = {
      val params = EncoderParams(numHarmonics = k)
      val layout = VectorLayout(Seq(
        TextBlock("embedding", 64),
        SparseBlock("lang", profs("lang").distinctSorted),
        DenseBlock("n_chars", profs("n_chars").min, profs("n_chars").max, params)))
      // boost aux weights: the fused blocks must compete with text sim
      val q = QueryEncoder.encode(layout,
        Map(
          "lang" -> SparseFilter("lang", Seq("en"), weight = 2.0),
          "n_chars" -> DenseIntervalFilter("n_chars", 150.0, 350.0, weight = 2.0)),
        textVec = Vectors.QVEC)
      val subject = Search.fusedTopK(ProductEncoder.encode(items, layout),
          "fused_vec", "doc_id", q, k = 60)
        .select(col("doc_id").cast("long")).collect().map(_.getLong(0)).toSeq
      Eval.recall(oracle, subject)
    }

    val r8 = recallAtK(8)
    val r64 = recallAtK(64)
    assert(r64 >= 0.5, s"recall@K=64 too low: $r64 (r8=$r8)")
    assert(r64 >= r8 - 0.10, s"recall not ~monotone: K=8 → $r8, K=64 → $r64")
    items.unpersist()
  }

  /** The reference's PRODUCTION parameterization (num_harmonics=200,
    * interval_epsilon=0.01 — src/encode.py:31-33, swept to 500 in
    * src/eval/config.yaml:7-8) on its own restaurants dataset, through the
    * whole engine (index → search), not just the encoders: fr8 pins K=200
    * encoding correctness; this pins K=200 RETRIEVAL quality. */
  test("production K=200 eps=0.01 recall on restaurants; monotone vs K=64") {
    import graft.prep.Prep
    val items = Prep.withRowId(
      Prep.restaurants(Tables.restaurants(spark)),
      Seq(col("Restaurant Name"), col("Location.lon"), col("Location.lat"),
        col("Votes"))).persist()

    def recallAt(numHarmonics: Int): Double = {
      val eng = FuseRankEngine.index(items, FuseRankConfig(
        idCol = "row_id",
        textCols = Map("Restaurant Name" -> 0.4, "Cuisines" -> 0.6),
        auxCols = Seq("City", "Average Cost for two"),
        // production eps defaults (0.01) come with EncoderParams()
        params = EncoderParams(numHarmonics = numHarmonics)))
      val qText = eng.config.embedder.embed("north indian mughlai")
      val costMin = eng.profiles("Average Cost for two").min
      // aux weight 2.0 so the blocks compete with text sim (same convention
      // as the sf-data recall test above)
      val filters = Seq[Filter](
        SparseFilter("City", Seq("New Delhi"), weight = 2.0),
        DenseIntervalFilter("Average Cost for two", costMin, 500.0, weight = 2.0))
      val oracle = Eval.hardFilterTopK(
        eng.indexed, "row_id", "text_vec", qText, filters, k = 20)
      assert(oracle.nonEmpty)
      val subject = eng.search("north indian mughlai", filters, k = 20)
        .select(col("row_id").cast("long")).collect().map(_.getLong(0)).toSeq
      eng.close()
      Eval.recall(oracle, subject)
    }

    val r64 = recallAt(64)
    val r200 = recallAt(200)
    // threshold: production-K fused retrieval must recover at least half of
    // the hard-filter oracle's top-20 (the reference's sweeps plateau well
    // above this on restaurants; see VERDICT r3 item 2 for provenance)
    assert(r200 >= 0.5, s"recall@K=200 too low: $r200 (r64=$r64)")
    assert(r200 >= r64 - 0.10, s"recall not ~monotone: K=64 → $r64, K=200 → $r200")
    items.unpersist()
  }

  test("recall/rPrecision metric semantics (reference evaluate.py:92-110)") {
    assert(Eval.recall(Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)) == 2.0 / 3)
    assert(Eval.recall(Seq.empty, Seq(1L)) == 0.0)
    assert(Eval.rPrecision(Seq(1L, 2L), Seq(2L, 9L, 1L)) == 0.5) // L2[:2] = {2,9}
    assert(Eval.rPrecision(Seq(1L, 2L), Seq(2L, 1L)) == 1.0)
  }
}
