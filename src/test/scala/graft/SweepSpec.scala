package graft

import graft.encode._
import graft.eval.Eval
import graft.profile.{ColumnProfile, Profiler}
import graft.query._
import graft.queries.Vectors
import graft.search.{Quantizer, Search}
import org.apache.spark.sql.DataFrame

/** A11 differential sweep on the documents/embeddings tables: the
  * reference's seeded repetition harness, asserting it runs reproducibly
  * and yields sane recall. Plus LSH-kNN recall vs brute force.
  */
class SweepSpec extends SparkSpec {

  private def sweepItems() = {
    val d = sf("sf0.001")
    Embedders.precomputed(Tables.documents(spark, d), Tables.embeddings(spark, d),
      "doc_id", "vec_id", "embedding").persist()
  }

  /** The harmonic-`kh` subject engine: a persisted fused index answering
    * the ε × point grid in one multiTopK scan, aux weights boosted to 2.0
    * so the blocks compete with text similarity. */
  private def engineFor(items: DataFrame, cands: Seq[String],
                        profs: Map[String, ColumnProfile])(kh: Int): Eval.SweepEngine = {
    val params = EncoderParams(numHarmonics = kh)
    val layout = ProductEncoder.layoutFor(cands, profs, params,
      textBlock = Some(TextBlock("embedding", 64)))
    val indexed = ProductEncoder.encode(items, layout).persist()
    Eval.SweepEngine(
      search = (epsList, filterSets, texts, k) => {
        // one scan per harmonic count: ε × points queries, row-major
        val qs = for { eps <- epsList; (fs, qt) <- filterSets.zip(texts) }
          yield QueryEncoder.encode(layout,
            fs.map(f => f.column -> withWeight(f, 2.0)).toMap,
            textVec = qt, params = QueryEncoder.Params(eps, 0.01))
        val flat = Search.multiTopK(indexed, "fused_vec", "doc_id", qs, k * 3)
          .map(_.map(_._1))
        epsList.indices.map(e =>
          filterSets.indices.map(j => flat(e * filterSets.size + j)))
      },
      close = () => { indexed.unpersist(); () })
  }

  test("seeded sweep is reproducible and recall is sane") {
    val items = sweepItems()
    val cands = Seq("lang", "n_chars")
    val profs = Profiler.profile(items, cands)
    def run(): Seq[Eval.SweepResult] = Eval.fullSweep(items, "doc_id", "embedding",
      Vectors.QVEC, cands, profs, engineFor(items, cands, profs),
      harmonicsSweep = Seq(16), epsilonSweep = Seq(0.01), k = 10, repetitions = 2)

    val a = run(); val b = run()
    assert(a == b, "sweep not reproducible")
    assert(a.size == 4) // m ∈ {1,2} × 2 reps
    val mean = a.map(_.recall).sum / a.size
    assert(mean >= 0.4, s"mean sweep recall too low: $mean (${a.map(_.recall)})")
    items.unpersist()
  }

  test("full A11 sweep: harmonics × epsilon grid with K-monotone mean recall") {
    val items = sweepItems()
    val cands = Seq("lang", "n_chars")
    val profs = Profiler.profile(items, cands)
    // the reference's full grid shape (config.yaml:7-8, scaled down):
    // num_harmonics × interval_epsilon × modality-count × repetitions
    val rs = Eval.fullSweep(items, "doc_id", "embedding", Vectors.QVEC,
      cands, profs, engineFor(items, cands, profs), harmonicsSweep = Seq(4, 8, 16),
      epsilonSweep = Seq(0.0, 0.01, 0.03), k = 10, repetitions = 2)
    assert(rs.size == 3 * 3 * 2 * 2, s"got ${rs.size} sweep points")
    // a9-shaped aggregation: one mean-recall row per grid cell
    val agg = Eval.aggregateResults(spark, rs)
    assert(agg.count() == 3 * 3 * 2)
    assert(agg.columns.toSeq ==
      Seq("num_harmonics", "interval_epsilon", "num_modalities", "avg_recall"))
    // more harmonics → better interval resolution → recall must not degrade
    // (the paper's figure-of-merit; small-sample slack 0.05)
    val meanByK = rs.groupBy(_.num_harmonics).view
      .mapValues(ps => ps.map(_.recall).sum / ps.size).toMap
    assert(meanByK(4) <= meanByK(16) + 0.05, s"recall not K-monotone: $meanByK")
    assert(meanByK.values.forall(r => r >= 0.0 && r <= 1.0))
    items.unpersist()
  }

  private def withWeight(f: Filter, w: Double): Filter = f match {
    case x: SparseFilter => x.copy(weight = w)
    case x: BinaryFilter => x.copy(weight = w)
    case x: DenseIntervalFilter => x.copy(weight = w)
    case x: DensePointFilter => x.copy(weight = w)
    case x: GeoFilter => x.copy(weight = w)
    case x: NoFilter => x.copy(weight = w)
  }

  test("multi-table LSH kNN recall vs brute force; more selective bits lower recall") {
    val d = sf("sf0.001")
    val emb = Tables.embeddings(spark, d).persist()
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
      .select(org.apache.spark.sql.functions.col("vec_id").as("q_id"),
        org.apache.spark.sql.functions.col("embedding").as("q_emb"))
    val exact = ReferenceTwins.knnBruteForce(emb, q, "embedding", "vec_id", "q_emb", "q_id", 10)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    def lshRecall(bits: Int): Double = {
      val approx = Search.knnLsh(emb, q, "embedding", "vec_id", "q_emb", "q_id",
          dim = 64, nBits = bits, k = 10)
        .select("q_id", "vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
      val rs = exact.keys.map(k => Eval.recall(exact(k), approx.getOrElse(k, Seq.empty)))
      rs.sum / rs.size
    }
    val r4 = lshRecall(4); val r8 = lshRecall(8)
    assert(r4 >= 0.5, s"LSH recall@4bits×8tables = $r4")
    assert(r4 >= r8, s"recall should rise as buckets coarsen: 4b=$r4 8b=$r8")
    emb.unpersist()
  }

  test("IVF kNN recall vs brute force; more probes raise recall") {
    val d = sf("sf0.001")
    val emb = Tables.embeddings(spark, d)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding")).persist()
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
      .select(org.apache.spark.sql.functions.col("vec_id").as("q_id"),
        org.apache.spark.sql.functions.col("embedding").as("q_emb"))
    val exact = ReferenceTwins.knnBruteForce(emb, q, "embedding", "vec_id", "q_emb", "q_id", 10)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    def ivfRecall(nProbe: Int): Double = {
      val approx = Search.knn(emb, "embedding", "vec_id", qids, k = 10,
          Quantizer.flat, Some(Search.Coarse(nCentroids = 8, iters = 3, nProbe = nProbe)))
        .select("q_id", "vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
      val rs = exact.keys.map(k => Eval.recall(exact(k), approx.getOrElse(k, Seq.empty)))
      rs.sum / rs.size
    }
    val r2 = ivfRecall(2); val r8 = ivfRecall(8) // nProbe = nCentroids → exhaustive
    assert(r2 >= 0.3, s"IVF recall@2/8 probes = $r2")
    assert(r8 >= r2, s"recall must not drop as probes widen: p2=$r2 p8=$r8")
    assert(r8 >= 0.99, s"probing every centroid must equal brute force: $r8")
    emb.unpersist()
  }
}
