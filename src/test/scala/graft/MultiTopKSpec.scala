package graft

import graft.eval.Eval
import graft.profile.Profiler
import graft.query._
import graft.search.Search
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batched multi-query top-k (`Search.multiTopK`) parity with the
  * per-query paths it replaces in the sweep harness: `Search.fusedTopK`
  * (rounded scores) and `Eval.hardFilterTopK` (raw scores + eligibility
  * predicates). One scan must answer every query with the exact rows, the
  * exact scores, and the exact tie-break order of the per-query jobs.
  */
class MultiTopKSpec extends SparkSpec {

  private val rnd = new scala.util.Random(7)
  private def randVec(d: Int): Array[Double] = Array.fill(d)(rnd.nextDouble() * 2 - 1)

  test("multiTopK == per-query fusedTopK on the embeddings table (incl. duplicate queries)") {
    val emb = sf("sf0.001") match { case d => spark.read.parquet(s"$d/embeddings.parquet") }
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val q0 = randVec(dim); val q1 = randVec(dim)
    val queries = Seq(q0, q1, q0.clone()) // third duplicates the first
    val batched = Search.multiTopK(emb, "embedding", "vec_id", queries, k = 12)
    assert(batched.size == 3)
    queries.zipWithIndex.foreach { case (q, i) =>
      val single = Search.fusedTopK(emb, "embedding", "vec_id", q, 12)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batched(i) == single, s"query $i diverged from fusedTopK")
    }
    assert(batched(0) == batched(2), "duplicate queries must agree")
  }

  test("multiTopK with eligibility predicates == hardFilterTopK per point") {
    val d = sf("sf0.001")
    val docs = Tables.documents(spark, d)
    val emb = Tables.embeddings(spark, d)
    val items = graft.encode.Embedders.precomputed(docs, emb, "doc_id", "vec_id", "embedding")
    val profs = Profiler.profile(items, Seq("lang", "n_chars"))
    val filterSets: Seq[Seq[Filter]] = Seq(
      Seq(SparseFilter("lang", Seq("en"))),
      Seq(DenseIntervalFilter("n_chars", profs("n_chars").min, 300.0)),
      Seq(SparseFilter("lang", Seq("de")), DenseIntervalFilter("n_chars", profs("n_chars").min, 400.0)),
      Seq.empty) // no filter → whole table eligible
    val qText = randVec(64)
    val batched = Eval.hardFilterTopKBatchPerQuery(items, "doc_id", "embedding",
      Seq.fill(filterSets.size)(qText), filterSets, k = 10)
    filterSets.zipWithIndex.foreach { case (fs, i) =>
      val single = Eval.hardFilterTopK(items, "doc_id", "embedding", qText, fs, k = 10)
      assert(batched(i) == single, s"point $i diverged from hardFilterTopK")
    }
  }

  test("tie-break on ascending id; null vectors skipped; empty eligibility → empty result") {
    import spark.implicits._
    // rows 1..6 share the same vector (identical scores → id tiebreak);
    // row 7 has a null vector
    val vecs = Seq(
      (1L, Some(Seq(1.0, 0.0))), (2L, Some(Seq(1.0, 0.0))), (3L, Some(Seq(1.0, 0.0))),
      (4L, Some(Seq(1.0, 0.0))), (5L, Some(Seq(1.0, 0.0))), (6L, Some(Seq(1.0, 0.0))),
      (7L, None)
    ).toDF("id", "vec")
    val q = Array(1.0, 1.0)
    val res = Search.multiTopK(vecs, "vec", "id", Seq(q), k = 4)
    assert(res(0).map(_._1) == Seq(1L, 2L, 3L, 4L), s"tie-break broken: ${res(0)}")
    assert(res(0).forall(_._2 == 1.0))
    // only ids > 5 eligible: the null-vector row must not surface
    val masked = Search.multiTopK(vecs, "vec", "id", Seq(q, q), k = 4,
      eligible = Seq(col("id") > 5, lit(false)))
    assert(masked(0).map(_._1) == Seq(6L))
    assert(masked(1).isEmpty, "all-ineligible query must return no rows")
  }

  test("non-finite scores rank like the per-query desc sort (NaN first)") {
    // row 3 carries a NaN element (NaN dot), row 5 an overflow-to-∞ pair;
    // Spark's desc sort puts NaN above +∞ above finite — the heap must
    // agree, with raw AND rounded scores, instead of never admitting NaN
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.5, 0.5)),
      (3L, Seq(Double.NaN, 1.0)), (4L, Seq(0.9, 0.1)),
      (5L, Seq(Double.MaxValue, Double.MaxValue)),
      (6L, Seq(0.2, 0.2)), (7L, Seq(0.8, 0.0))
    ).toDF("id", "vec")
    val q = Array(Double.MaxValue, 1.0) // MaxValue*MaxValue overflows to ∞
    for (round <- Seq(true, false)) {
      val dot = (qv: Array[Double]) => Search.dot(Search.asDouble(col("vec")), typedLit(qv))
      val batched = Search.multiTopK(vecs, "vec", "id", Seq(q), k = 3,
        score = if (round) (qv: Array[Double]) => Search.rounded(dot(qv)) else dot)
      val single =
        if (round) Search.fusedTopK(vecs, "vec", "id", q, 3)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        else vecs.select(col("id"),
            Search.dot(Search.asDouble(col("vec")), typedLit(q)).as("score"))
          .orderBy(col("score").desc, col("id")).limit(3)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // == on NaN is false — compare ids and bit patterns
      assert(batched(0).map(_._1) == single.map(_._1),
        s"round=$round ids: ${batched(0)} vs $single")
      assert(batched(0).map(t => java.lang.Double.doubleToLongBits(t._2)) ==
        single.map(t => java.lang.Double.doubleToLongBits(t._2)),
        s"round=$round scores: ${batched(0)} vs $single")
    }
  }

  /** The SQL sample [[Eval.batchSamples]] stands in for: the row first
    * in md5(concat_ws(":", id, seed)) order. */
  private def sortLimitSample(df: DataFrame, idCol: String, cols: Seq[String],
                              seed: Int): Map[String, Any] = {
    val row = df
      .withColumn("__h", md5(concat_ws(":", col(idCol), lit(seed))))
      .orderBy("__h").limit(1).select(cols.map(col): _*).head()
    cols.zipWithIndex.map { case (c, i) => c -> row.get(i) }.toMap
  }

  private def assertSamplesMatch(df: DataFrame, idCol: String, cols: Seq[String],
                                 seeds: Seq[Int]): Map[Int, Map[String, Any]] = {
    val batched = Eval.batchSamples(df, idCol, cols, seeds)
    assert(batched.keySet == seeds.toSet)
    seeds.foreach { s =>
      assert(batched(s) == sortLimitSample(df, idCol, cols, s), s"$idCol seed $s sample diverged")
    }
    batched
  }

  test("batchSamples == per-seed orderBy(md5).limit(1) sample") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val cands = Seq("lang", "n_chars")
    assertSamplesMatch(docs, "doc_id", cands, Seq(10, 11, 20, 21))
    // spread over 4 partitions; negative seeds; a seed listed twice
    assertSamplesMatch(docs.repartition(4), "doc_id", cands,
      Seq(-7, 10, -7, Int.MinValue, 0, Int.MaxValue))
    // int, long and non-ASCII string ids, each with a null-id row, over 4
    // partitions of at most 2 rows: more seeds than rows per partition
    val schema = StructType(Seq(StructField("i", IntegerType), StructField("l", LongType),
      StructField("s", StringType), StructField("v", StringType),
      StructField("d", DecimalType(10, 2))))
    val small = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1, 10L, "é-1", "a", new java.math.BigDecimal("1.50")),
      Row(-2, null, "日本語", "b", null),
      Row(null, Long.MaxValue, "ü", "c", new java.math.BigDecimal("-0.25")),
      Row(40, -3L, null, "d", new java.math.BigDecimal("7.00")),
      Row(5, Long.MinValue, "🙂", "e", new java.math.BigDecimal("0.01")),
      Row(Int.MinValue, 0L, "plain", "f", new java.math.BigDecimal("2.00"))), 4), schema)
    val seeds = (-30 to 30 by 3) :+ Int.MinValue
    val nullPicks = Seq("i", "l", "s").map { idCol =>
      val got = assertSamplesMatch(small, idCol, Seq("v", "d"), seeds)
      val nullRow = small.where(col(idCol).isNull).select("v").head().getString(0)
      seeds.count(s => got(s)("v") == nullRow)
    }
    // the null-id key md5("<seed>") is exercised, not only admitted
    assert(nullPicks.forall(_ > 0), s"a null-id row never won: $nullPicks")
  }

  test("batchSamples: equal keys keep the earliest row; no rows raises a named error") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    // duplicate ids give equal keys: the first in scan order wins, within
    // a partition and across partitions
    val dup = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(7L, "p0-first"), Row(7L, "p0-second"), Row(7L, "p1-first"), Row(7L, "p1-second")), 2),
      schema)
    val picks = Eval.batchSamples(dup, "id", Seq("v"), Seq(1, 2, 3, -4))
    assert(picks.values.map(_("v")).toSet == Set("p0-first"), picks)
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val ex = intercept[IllegalArgumentException](Eval.batchSamples(empty, "id", Seq("v"), Seq(1)))
    assert(ex.getMessage.contains("no rows"), ex.getMessage)
    assert(Eval.batchSamples(empty, "id", Seq("v"), Nil).isEmpty)
  }

  test("batchSamples and the oracle: one scan each, and a second sweep compiles no class") {
    import org.apache.spark.sql.graft.QueryTrace
    val d = sf("sf0.001")
    val items = graft.encode.Embedders.precomputed(
      Tables.documents(spark, d), Tables.embeddings(spark, d), "doc_id", "vec_id", "embedding")
      .persist()
    try {
      val cands = Seq("lang", "n_chars")
      Eval.batchSamples(items, "doc_id", cands, Seq(10, 11, 12))
      val (_, sample) = QueryTrace.during(spark, "sample")(
        Eval.batchSamples(items, "doc_id", cands, Seq(-5, 33, 34, 35)))
      assert(sample.compiles == 0, sample.json)
      assert(sample.jobs.size == 1 && sample.shuffleWriteBytes == 0L, sample.json)
      // the oracle's dense bounds differ between the two sweeps, and so do
      // its query texts
      def filters(b: Double): Seq[Seq[Filter]] = Seq(
        Seq(DenseIntervalFilter("n_chars", 0.0, b)),
        Seq(DensePointFilter("n_chars", b + 50.5)),
        Seq(SparseFilter("lang", Seq("en")), DenseIntervalFilter("n_chars", 0.0, 2 * b)))
      Eval.hardFilterTopKBatchPerQuery(items, "doc_id", "embedding",
        Seq.fill(3)(randVec(64)), filters(300.0), k = 10)
      val qs = Seq.fill(3)(randVec(64))
      val (got, oracle) = QueryTrace.during(spark, "oracle")(
        Eval.hardFilterTopKBatchPerQuery(items, "doc_id", "embedding", qs, filters(411.25), k = 10))
      assert(oracle.compiles == 0, oracle.json)
      filters(411.25).zip(qs).zipWithIndex.foreach { case ((fs, q), i) =>
        assert(got(i) == Eval.hardFilterTopK(items, "doc_id", "embedding", q, fs, k = 10), s"point $i")
      }
    } finally items.unpersist()
  }

  test("oracle parity when null vectors coexist with fewer than k matches") {
    // 3 embedded rows + 2 null-vector rows; the filter admits rows 1,2,4
    // (one of them null-vector) and k exceeds the scoreable matches — both
    // oracle paths must return exactly the scoreable rows, never nulls as
    // back-fill
    import spark.implicits._
    val items = Seq(
      (1L, "a", Seq(1.0, 0.0)),
      (2L, "a", Seq(0.5, 0.5)),
      (3L, "b", Seq(0.0, 1.0)),
      (4L, "a", null.asInstanceOf[Seq[Double]]),
      (5L, "b", null.asInstanceOf[Seq[Double]]))
      .toDF("id", "grp", "vec")
    val q = Array(1.0, 1.0)
    val filters = Seq(SparseFilter("grp", Seq("a")))
    val single = Eval.hardFilterTopK(items, "id", "vec", q, filters, k = 5)
    val batched = Eval.hardFilterTopKBatchPerQuery(items, "id", "vec", Seq(q),
      Seq(filters), k = 5).head
    assert(single == Seq(1L, 2L), s"per-point oracle: $single")
    assert(batched == single, s"batched $batched vs per-point $single")
  }

  test("null vectors: the single and batched forms return the same rows, never a null vector") {
    // 3 scoreable rows, 2 null-vector rows, k above the scoreable count:
    // the desc sort's NULLS LAST must not back-fill the single form
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(1.0, 0.0)), (2L, null.asInstanceOf[Seq[Double]]), (3L, Seq(0.5, 0.25)),
      (4L, null.asInstanceOf[Seq[Double]]), (5L, Seq(-1.0, 2.0)))
      .toDF("id", "vec")
    val q = Array(1.0, 1.0)
    val rows = Search.fusedTopK(vecs, "vec", "id", q, 4).collect().toSeq
    assert(rows.map(_.getLong(0)) == Seq(1L, 5L, 3L), s"single form: $rows")
    val single = rows.map(r => (r.getLong(0), r.getDouble(1)))
    val batched = Search.multiTopK(vecs, "vec", "id", Seq(q), k = 4).head
    val oracle = Eval.hardFilterTopK(vecs, "id", "vec", q, Nil, k = 4)
    assert(batched == single, s"batched $batched vs single $single")
    assert(oracle == single.map(_._1), s"oracle $oracle vs single $single")
  }

  test("k < 1 is a named error in both forms") {
    import spark.implicits._
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("id", "vec")
    val q = Array(1.0, 1.0)
    for (k <- Seq(0, -1)) {
      val forms: Seq[(String, () => Any)] = Seq(
        "fusedTopK" -> (() => Search.fusedTopK(vecs, "vec", "id", q, k)),
        "multiTopK" -> (() => Search.multiTopK(vecs, "vec", "id", Seq(q), k)),
        "hardFilterTopK" -> (() => Eval.hardFilterTopK(vecs, "id", "vec", q, Nil, k)))
      forms.foreach { case (name, call) =>
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains(s"k must be positive: $k"), s"$name: ${e.getMessage}")
      }
    }
  }
}
