package graft

import graft.encode.ImageBlock
import graft.prep.Prep
import graft.query._
import graft.search.Search
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** The engine's index is `defaultParallelism` partitions, and no answer
  * depends on that: every search equals the same top-k over the index
  * coalesced to one partition, tie order included. Generated rows: every
  * third row is duplicated (tied scores), and every modality has nulls. */
class EnginePartitionSpec extends SparkSpec {

  private def p = spark.sparkContext.defaultParallelism

  private val logos = Seq(
    png(8, 8)((x, _) => x * 30), png(8, 8)((_, y) => y * 30), png(8, 8)((x, y) => (x + y) * 15))
  private val undecodable = Array[Byte](1, 2, 3)

  /** Row-numbered like the loaders (`Prep.withRowId`: one partition). */
  private def items: DataFrame = {
    val words = Seq("red", "blue", "green", "pasta", "pizza", "noodle", "cafe")
    val cities = Seq("agra", "delhi", "goa", "pune")
    val rows = (0 until 240).flatMap { i =>
      val row = Row(
        if (i % 11 == 0) null else s"${words(i % 7)} ${words((i / 7) % 7)}",
        if (i % 13 == 0) null else s"${words((i + 3) % 7)} dish",
        if (i % 9 == 0) null else cities(i % 4),
        if (i % 10 == 0) null else if (i % 3 == 0) "Y" else "N",
        if (i % 8 == 0) null else (i % 50).toDouble * 10,
        if (i % 12 == 0) null else Row((i % 36) * 5.0 - 90, (i % 18) * 5.0 - 45),
        if (i % 7 == 0) null else if (i % 17 == 0) undecodable else logos(i % 3))
      if (i % 3 == 0) Seq(row, row) else Seq(row)
    }
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("desc", StringType),
      StructField("city", StringType), StructField("flag", StringType),
      StructField("price", DoubleType),
      StructField("loc", StructType(Seq(
        StructField("lon", DoubleType), StructField("lat", DoubleType)))),
      StructField("logo", BinaryType)))
    Prep.withRowId(spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema),
      Seq(col("name"), col("desc"), col("city"), col("flag"), col("price"),
        col("loc.lon"), col("loc.lat")))
  }

  private val config = FuseRankConfig(
    idCol = "row_id",
    textCols = Map("name" -> 0.6, "desc" -> 0.4),
    auxCols = Seq("city", "flag", "price", "loc"),
    imageCols = Seq("logo"),
    presetTransforms = Map("price" -> graft.transform.Log2p1),
    params = graft.encode.EncoderParams(numHarmonics = 4))

  private val queries: Seq[(String, Seq[Filter])] = Seq(
    ("red pasta", Seq(SparseFilter("city", Seq("agra", "goa")), BinaryFilter("flag", "Y"))),
    ("blue cafe", Seq(DenseIntervalFilter("price", 100, 300, weight = 1.5),
      GeoFilter("loc", 10.0, 20.0))),
    ("green noodle dish", Seq(ImageFilter("logo", logos(1), weight = 2.0),
      SparseFilter("city", Seq("pune"), negated = true))),
    ("pizza", Seq.empty))

  private def pairs(df: DataFrame, id: String, score: String): Seq[(Long, Double)] =
    df.select(col(id).cast("long"), col(score)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("index is p partitions; search, rerank and searchBatch equal the one-partition index") {
    assert(p > 1)
    // a 1-byte split: the byte estimate alone never spreads, so only the
    // SinglePartition rule can, through the engine's cached items (AQE on)
    val eng = withConf("spark.sql.files.maxPartitionBytes" -> "1")(FuseRankEngine.index(items, config))
    try {
      assert(eng.indexed.rdd.getNumPartitions == p)
      val one = eng.indexed.coalesce(1)
      val far = QueryEncoder.sparkFarthest(eng.items, eng.config.geoCols)
      def encode(text: String, filters: Seq[Filter]) =
        QueryEncoder.encode(eng.layout, filters.map(f => f.column -> f).toMap,
          textVec = config.embedder.embed(text), transforms = eng.transforms,
          farthest = far)
      val k = 12
      queries.foreach { case (text, filters) =>
        val want = pairs(Search.fusedTopK(one, "fused_vec", "row_id", encode(text, filters), k),
          "row_id", "score")
        assert(want.map(_._2).distinct.size < k, s"'$text': no tied scores in the top $k")
        assert(pairs(eng.search(text, filters, k), "row_id", "relevance") == want, s"'$text'")

        val textTop = pairs(Search.fusedTopK(one, "text_vec", "row_id",
          config.embedder.embed(text), k), "row_id", "score")
        val rr = pairs(eng.search(text, filters, k, SearchMethod.Reranking), "row_id", "relevance")
        assert(rr.map(_._1).toSet == textTop.map(_._1).toSet, s"'$text' rerank ids")
        assert(rr == rr.sortBy { case (id, rel) => (-rel, id) }, s"'$text' rerank order")
      }
      val batch = eng.searchBatch(queries, k)
        .select(col("query_idx"), col("row_id").cast("long"), col("relevance")).collect()
        .groupBy(_.getInt(0)).view
        .mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
      val want = Search.multiTopK(one, "fused_vec", "row_id",
        queries.map { case (t, f) => encode(t, f) }, k)
      queries.indices.foreach(qi => assert(batch(qi) == want(qi), s"batch query $qi"))
    } finally eng.close()
  }

  test("close() keeps the cache of items the caller persisted") {
    val cached = items.persist()
    try {
      cached.count()
      val eng = FuseRankEngine.index(cached, config)
      eng.indexed.count()
      eng.close()
      assert(cached.storageLevel != StorageLevel.NONE)
      assert(eng.indexed.storageLevel == StorageLevel.NONE)
    } finally { cached.unpersist(); () }
  }

  /** Every value of a row, doubles by their bits and payloads by their
    * bytes, so two answers compare bit for bit. */
  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(bits)
    case other => other
  }
  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(r => r.toSeq.map(bits))

  /** Retrieval equals the items gather and Reranking equals the window
    * twin on `itemsTransformed`, bit for bit, for every query. */
  private def assertAnswerRows(eng: FuseRankEngine): Unit = {
    val itemCols = eng.items.columns.filterNot(_ == "row_id").map(col).toSeq
    def gather(table: DataFrame, top: DataFrame) =
      table.join(broadcast(top.withColumnRenamed("score", "relevance")), Seq("row_id"))
        .select(col("row_id") +: col("relevance") +: itemCols: _*)
    val far = QueryEncoder.sparkFarthest(eng.items, eng.config.geoCols)
    val t = eng.transforms("price")
    val minMax = eng.profiles.map { case (c, p) => c -> (p.min, p.max) }
    val imageBlocks = eng.layout.blocks.collect { case b: ImageBlock => b.name -> b }.toMap
    val k = 12
    queries.foreach { case (text, filters) =>
      val q = QueryEncoder.encode(eng.layout, filters.map(f => f.column -> f).toMap,
        textVec = config.embedder.embed(text), transforms = eng.transforms, farthest = far)
      val retrieval = rows(eng.search(text, filters, k))
      assert(retrieval == rows(gather(eng.items,
          Search.fusedTopK(eng.indexed, "fused_vec", "row_id", q, k))
        .orderBy(col("relevance").desc, col("row_id"))), s"'$text' retrieval rows")

      val scaled = filters.map {
        case f: DenseIntervalFilter if f.column == "price" =>
          f.copy(lo = t.applyScalar(f.lo), hi = t.applyScalar(f.hi))
        case f => f
      }
      val top = Search.fusedTopK(eng.indexed, "text_vec", "row_id",
        config.embedder.embed(text), k)
      val twin = ReferenceTwins.RerankWindows.rerank(gather(eng.itemsTransformed, top),
          scaled, minMax, eng.config.geoCols, imageBlocks)
        .orderBy(col("relevance").desc, col("row_id"))
      assert(rows(eng.search(text, filters, k, SearchMethod.Reranking)) == rows(twin),
        s"'$text' reranking rows")
    }
  }

  test("answer rows: Retrieval = the items gather, Reranking = the window twin on transformed rows") {
    val eng = FuseRankEngine.index(items, config)
    try {
      assert(eng.transforms.keySet == Set("price"))
      assertAnswerRows(eng)
    } finally eng.close()
  }

  test("answer rows with a fitted transform: the same two equalities") {
    val eng = FuseRankEngine.index(items,
      config.copy(presetTransforms = Map.empty, fitTransforms = true))
    try {
      assert(eng.transforms.contains("price"), eng.transforms)
      assertAnswerRows(eng)
    } finally eng.close()
  }

  test("searchBatch: rows equal the old items gather bit for bit; without a GeoFilter one job") {
    val eng = FuseRankEngine.index(items, config)
    try {
      assert(eng.transforms.keySet == Set("price"))
      val far = QueryEncoder.sparkFarthest(eng.items, eng.config.geoCols)
      val k = 12
      val qs = queries.map { case (text, filters) =>
        QueryEncoder.encode(eng.layout, filters.map(f => f.column -> f).toMap,
          textVec = config.embedder.embed(text), transforms = eng.transforms, farthest = far)
      }
      val twin = ReferenceTwins.batchGather(eng.items, "row_id",
        Search.multiTopK(eng.indexed, "fused_vec", "row_id", qs, k))
      val got = eng.searchBatch(queries, k)
      assert(got.schema.map(f => f.name -> f.dataType) == twin.schema.map(f => f.name -> f.dataType))
      assert(rows(got) == rows(twin))
      assert(rows(got).size == queries.size * k)
      // the scan is the one job; collecting the answer runs none
      val noGeo = queries.filterNot(_._2.exists(_.isInstanceOf[GeoFilter]))
      val (_, trace) = org.apache.spark.sql.graft.QueryTrace.during(spark, "searchBatch")(
        eng.searchBatch(noGeo, k).collect())
      assert(trace.jobs.size == 1, trace.jobs)
    } finally eng.close()
  }

  test("Reranking searches that differ only in filter values compile no new class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val eng = FuseRankEngine.index(items, config)
    try {
      // each filter kind whose values are doubles: dense point and
      // interval, geo (query point and its cartesian), image (signature)
      val kinds: Seq[Int => Seq[Filter]] = Seq(
        i => Seq(DensePointFilter("price", 120.0 + 10 * i)),
        i => Seq(DenseIntervalFilter("price", 100.0 + i, 300.0 - i)),
        i => Seq(GeoFilter("loc", 10.0 - 7 * i, 20.0 + 3 * i)),
        i => Seq(ImageFilter("logo", logos(i))))
      kinds.foreach { filters =>
        eng.search("red pasta", filters(0), 12, SearchMethod.Reranking).collect()
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        eng.search("red pasta", filters(1), 12, SearchMethod.Reranking).collect()
        assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before == 0, filters(1))
      }
    } finally eng.close()
  }

  test("a search without a GeoFilter is one Spark job, for both methods") {
    val eng = FuseRankEngine.index(items, config)
    try {
      eng.indexed.count()
      for ((text, filters) <- queries if !filters.exists(_.isInstanceOf[GeoFilter]);
           method <- Seq(SearchMethod.Retrieval, SearchMethod.Reranking)) {
        val (_, trace) = org.apache.spark.sql.graft.QueryTrace.during(spark, text)(
          eng.search(text, filters, 12, method).collect())
        assert(trace.jobs.size == 1, s"'$text' $method: ${trace.jobs}")
      }
    } finally eng.close()
  }

  test("k: non-positive is a named error, past n returns all n rows in (relevance desc, id) order") {
    val eng = FuseRankEngine.index(items, config)
    try {
      val n = eng.indexed.count()
      // queries(1) has a GeoFilter: the k check runs before its
      // farthest-point job, so a failing call submits no job
      val (text, filters) = queries(1)
      def failsWithoutJobs(call: => Any): Unit = {
        val (e, trace) = org.apache.spark.sql.graft.QueryTrace.during(spark, "bad k")(
          intercept[IllegalArgumentException](call))
        assert(e.getMessage.contains("k must be positive"), e.getMessage)
        assert(trace.jobs.isEmpty, trace.jobs)
      }
      for (bad <- Seq(0, -3)) {
        for (method <- Seq(SearchMethod.Retrieval, SearchMethod.Reranking))
          failsWithoutJobs(eng.search(text, filters, bad, method))
        failsWithoutJobs(eng.searchBatch(queries, bad))
      }
      for (method <- Seq(SearchMethod.Retrieval, SearchMethod.Reranking)) {
        val got = eng.search(text, filters, n.toInt + 50, method)
          .select(col("row_id").cast("long"), col("relevance")).collect()
          .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSeq
        assert(got.size == n, s"$method")
        // Spark's order: relevance desc (NaN first, null last), then id
        val want = got.sortWith { case ((ia, ra), (ib, rb)) =>
          val c = (ra, rb) match {
            case (Some(a), Some(b)) => java.lang.Double.compare(b, a)
            case (None, Some(_)) => 1
            case (Some(_), None) => -1
            case _ => 0
          }
          c < 0 || (c == 0 && ia < ib)
        }
        assert(got == want, s"$method order")
      }
    } finally eng.close()
  }

  test("k = 1 re-ranking: a ranked modality gives null relevance, a skipped one keeps the score") {
    val eng = FuseRankEngine.index(items, config)
    try {
      def one(filters: Filter*): Row =
        eng.search("red pasta", filters, 1, SearchMethod.Reranking)
          .select("row_id", "relevance", "city").collect().toSeq match { case Seq(r) => r }
      val hit = one()
      assert(one(DensePointFilter("price", 120.0)).isNullAt(1))
      assert(!hit.isNullAt(2), "the top row needs a city")
      assert(one(SparseFilter("city", Seq(hit.getString(2)))).isNullAt(1))
      assert(one(SparseFilter("city", Seq("nowhere"))) == hit)
    } finally eng.close()
  }
}
