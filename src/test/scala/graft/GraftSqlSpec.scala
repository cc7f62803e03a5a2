package graft

import org.apache.spark.sql.{AnalysisException, Row, SparkSessionExtensions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft._

/** The SQL surface: every registered `graft_*` function must be callable
  * from `spark.sql` TEXT and return exactly what the Column API form of
  * the same kernel returns (one registry, one expression class — parity
  * is by construction, but the registration plumbing — arity checks,
  * literal-int folding, name binding — is what these tests pin). Also
  * pins the `spark.sql.extensions=graft.GraftExtensions` path: the
  * extensions object must inject the identical list. */
class GraftSqlSpec extends SparkSpec {
  import spark.implicits._

  GraftFunctions.register(spark)

  private def docsView(): Unit =
    Seq((1L, "the cat sat on the mat"), (2L, "a b  c\td"), (3L, ""))
      .toDF("id", "text").createOrReplaceTempView("gsql_docs")

  private def vecsView(): Unit =
    Seq((1L, Array(1.0, 2.0, 3.0)), (2L, Array(-0.5, 0.25, 4.0)))
      .toDF("id", "v").createOrReplaceTempView("gsql_vecs")

  test("registered names are exactly the documented list, and DESCRIBE works") {
    for (n <- GraftFunctions.names) {
      assert(spark.catalog.functionExists(n), s"missing SQL function $n")
      // DESCRIBE FUNCTION resolves through the same registry metadata
      assert(spark.sql(s"DESCRIBE FUNCTION $n").count() > 0)
    }
  }

  test("extensions class injects the identical function list") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    assert(GraftFunctions.materializedNames(ext).sorted ==
      GraftFunctions.names.sorted)
  }

  test("graft_dot / graft_pack / graft_unpack / graft_dot_packed from SQL match the Column API") {
    vecsView()
    val sql = spark.sql(
      """SELECT id, graft_dot(v, v) AS d,
                graft_dot(graft_unpack(graft_pack(v)), v) AS d_rt,
                graft_dot_packed(graft_pack(v), v) AS d_pk
         FROM gsql_vecs ORDER BY id""").collect()
    val api = spark.table("gsql_vecs")
      .select(col("id"), DotProduct.dot(col("v"), col("v")).as("d"))
      .orderBy("id").collect()
    assert(sql.map(_.getLong(0)).toSeq == api.map(_.getLong(0)).toSeq)
    for ((a, b) <- sql.zip(api)) {
      assert(a.getDouble(1) == b.getDouble(1))   // SQL dot == API dot
      assert(a.getDouble(2) == b.getDouble(1))   // pack→unpack roundtrip exact
      assert(a.getDouble(3) == b.getDouble(1))   // packed dot exact
    }
  }

  test("graft_token_count and graft_term_freqs from SQL match the kernels") {
    docsView()
    val got = spark.sql(
      """SELECT id, graft_token_count(text) AS n,
                size(graft_term_freqs(text)) AS nf
         FROM gsql_docs ORDER BY id""").collect()
    val want = spark.table("gsql_docs")
      .select(col("id"), TokenCount.tokenCount(col("text")).as("n"),
        size(TermFreqs.termFreqs(col("text"))).as("nf"))
      .orderBy("id").collect()
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
  }

  test("graft_minhash_bands and graft_span_minhash from SQL match the kernels") {
    docsView()
    val got = spark.sql(
      """SELECT id,
                graft_minhash_bands(split(text, ' '), 8, 4) AS bands,
                graft_span_minhash(text, 3) AS spans
         FROM gsql_docs ORDER BY id""").collect()
    val want = spark.table("gsql_docs")
      .select(col("id"),
        MinHashBands.bands(split(col("text"), " "), 8, 4).as("bands"),
        SpanMinHash.spanMinHash(col("text"), 3).as("spans"))
      .orderBy("id").collect()
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
  }

  test("graft_dense_fourier from SQL matches the codegen block") {
    vecsView()
    val got = spark.sql(
      "SELECT id, graft_dense_fourier(CAST(id AS DOUBLE) / 10.0, 6) AS blk " +
        "FROM gsql_vecs ORDER BY id").collect()
    val want = spark.table("gsql_vecs")
      .select(col("id"),
        DenseFourierBlock.block(col("id").cast("double") / 10.0, 6).as("blk"))
      .orderBy("id").collect()
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
  }

  test("graft_pack_pq / graft_unpack_pq / graft_adc_packed from SQL are exact") {
    // codes (0,1) under ksub=4: adc = lut[0*4+0] + lut[1*4+1]
    val lut = (0 until 8).map(i => i * 1.5 + 0.25)
    val row = spark.sql(
      s"""SELECT graft_unpack_pq(graft_pack_pq(array(0, 1))) AS rt,
                 graft_adc_packed(graft_pack_pq(array(0, 1)),
                   CAST(array(${lut.mkString(", ")}) AS ARRAY<DOUBLE>), 4) AS adc""").head()
    assert(row.getSeq[Int](0) == Seq(0, 1))
    assert(row.getDouble(1) == lut(0) + lut(5))
  }

  test("aggregates graft_kmv_distinct / graft_vector_sum / graft_tri_counts work from SQL") {
    vecsView()
    spark.range(0, 5000)
      .select((col("id") % 3).as("g"), KMinValues.hash52(col("id").cast("string")).as("h"))
      .createOrReplaceTempView("gsql_ids")
    // KMV: SQL estimate == Column-API estimate, per group
    val sqlKmv = spark.sql(
      """SELECT g, graft_kmv_distinct(h, 256) AS est
         FROM gsql_ids GROUP BY g ORDER BY g""").collect()
    val apiKmv = spark.table("gsql_ids")
      .groupBy("g")
      .agg(KMinValues.kmvDistinct(col("h"), 256).as("est"))
      .orderBy("g").collect()
    assert(sqlKmv.map(_.toSeq).toSeq == apiKmv.map(_.toSeq).toSeq)
    // VectorSum exact mode: per-dimension exact sums
    val sqlVs = spark.sql(
      "SELECT graft_vector_sum(v, true) AS s FROM gsql_vecs").head().getSeq[Double](0)
    val apiVs = spark.table("gsql_vecs")
      .agg(VectorSum.sums(col("v"), exact = true).as("s")).head().getSeq[Double](0)
    assert(sqlVs == apiVs && sqlVs == Seq(0.5, 2.25, 7.0))
    // TriCounts over normalized text
    docsView()
    val sqlTc = spark.sql(
      "SELECT graft_tri_counts(regexp_replace(lower(text), '[^a-z ]', ' ')) AS c " +
        "FROM gsql_docs WHERE id = 1").head().getSeq[Long](0)
    val apiTc = spark.table("gsql_docs").filter(col("id") === 1)
      .agg(TriCounts.triCounts(
        regexp_replace(lower(col("text")), "[^a-z ]", " ")).as("c"))
      .head().getSeq[Long](0)
    assert(sqlTc == apiTc && sqlTc.sum > 0)
  }

  test("wrong arity and non-literal config args fail loudly, not silently") {
    docsView()
    val e1 = intercept[Exception](spark.sql("SELECT graft_dot(array(1.0))").head())
    assert(e1.getMessage.contains("graft_dot expects 2 argument"))
    // non-foldable harmonic count must be rejected at plan time
    val e2 = intercept[Exception](spark.sql(
      "SELECT graft_dense_fourier(0.5, id) FROM gsql_docs").head())
    assert(e2.getMessage.contains("must be a literal integer"))
    // an integer literal outside Int range gets the same named error, not
    // the ArithmeticException of a Long → Int narrowing
    val e3 = intercept[Exception](spark.sql(
      "SELECT graft_span_minhash(text, 3000000000) FROM gsql_docs").head())
    assert(!e3.isInstanceOf[ArithmeticException])
    assert(e3.getMessage.contains("argument 2 must be a literal integer, got 3000000000"))
    // unregistered sessions stay clean: a bogus name is an analysis error
    intercept[AnalysisException](spark.sql("SELECT graft_nope(1)").head())
  }

  test("registration is idempotent") {
    GraftFunctions.register(spark)
    GraftFunctions.register(spark)
    vecsView()
    assert(spark.sql("SELECT graft_dot(v, v) FROM gsql_vecs").count() == 2L)
  }
}
