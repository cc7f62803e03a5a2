package graft

import graft.search.Search
import org.apache.spark.sql.functions._

/** Native codegen DotProduct vs the built-in HOF composition: identical
  * results (same left-to-right accumulation order), null-array → null. */
class DotProductSpec extends SparkSpec {

  test("native dot matches HOF dot on random vectors incl. nulls") {
    import spark.implicits._
    val r = new scala.util.Random(7)
    val rows = Seq.tabulate(200) { i =>
      val dim = 1 + r.nextInt(80)
      (i.toLong,
        if (i == 13) null else Array.fill(dim)(r.nextDouble() * 4 - 2),
        Array.fill(dim)(r.nextDouble() * 4 - 2))
    }
    val df = rows.toDF("id", "a", "b")
    val out = df.select(
      col("id"),
      Search.dot(col("a"), col("b")).as("native"),
      ReferenceTwins.dotHof(col("a"), col("b")).as("hof"))
      .collect()
    out.foreach { row =>
      if (row.isNullAt(1) || row.isNullAt(2))
        assert(row.isNullAt(1) && row.isNullAt(2), s"null mismatch id=${row.getLong(0)}")
      else
        assert(row.getDouble(1) == row.getDouble(2), s"id=${row.getLong(0)}")
    }
  }

  test("bound query: a literal scores cached and parquet rows bit for bit, in both argument orders") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val q = Array(0.5, -1.25, -0.0, 3.0, 1e300, -2.0, Double.MinPositiveValue, 7.5)
    val qNull: Seq[Any] = q.toSeq.updated(2, null)
    val specials = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0)
    val r = new scala.util.Random(11)
    val vs: Seq[Seq[Any]] = (0 until 300).map { i =>
      val len = i % 5 match {
        case 0 => r.nextInt(q.length) // shorter than q
        case 1 => q.length + 1 + r.nextInt(4) // longer
        case _ => q.length
      }
      if (i == 7) null
      else Seq.fill(len) {
        r.nextInt(24) match {
          case 0 => null
          case 1 | 2 => specials(r.nextInt(specials.size))
          case _ => r.nextDouble() * 8 - 4
        }
      }
    }
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", ArrayType(DoubleType)),
      StructField("qc", ArrayType(DoubleType)), StructField("qn", ArrayType(DoubleType))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      vs.zipWithIndex.map { case (v, i) => Row(i.toLong, v, q.toSeq, qNull) }, 3), schema)
    assert(vs.count(v => v != null && v.contains(null)) > 20)
    assert(vs.count(v => v != null && !v.contains(null) && v.size == q.length) > 50)

    val dir = java.nio.file.Files.createTempDirectory("graft-dot-bound")
    val path = dir.resolve("t").toString
    df.write.parquet(path)
    val cached = df.persist()
    cached.count()
    val lq = typedLit(q)
    // folds to one literal holding a null element: the element-wise loop
    val lqNull = array(qNull.map(x => lit(x).cast("double")): _*)
    // bits that tell −0.0 from 0.0 but every NaN alike: Spark orders and
    // compares all NaNs as one value, and the x86 NaN of ∞−∞ carries a
    // sign bit that no Spark operator reads
    def bits(row: Row, i: Int): Option[Long] =
      if (row.isNullAt(i)) None else Some(java.lang.Double.doubleToLongBits(row.getDouble(i)))
    /** The kernel's contract in Scala: Σ over the shorter length, null
      * elements skipped, left to right. */
    def twin(v: Seq[Any], query: Seq[Any]): Option[Long] =
      Option(v).map { xs =>
        var s = 0.0
        xs.zip(query).foreach {
          case (x: Double, y: Double) => s += x * y
          case _ =>
        }
        java.lang.Double.doubleToLongBits(s)
      }
    try {
      for ((source, frame) <- Seq("cached" -> cached, "parquet" -> spark.read.parquet(path))) {
        val out = frame.select(col("id"),
          Search.dot(col("v"), lq), Search.dot(lq, col("v")),
          Search.dot(col("v"), col("qc")), Search.dot(col("qc"), col("v")),
          Search.dot(col("v"), lqNull), Search.dot(col("v"), col("qn")),
          ReferenceTwins.dotHof(col("v"), lq), ReferenceTwins.dotHof(lq, col("v"))).collect()
        assert(out.length == vs.size)
        out.foreach { row =>
          val v = vs(row.getLong(0).toInt)
          val at = s"$source id=${row.getLong(0)}"
          assert(bits(row, 1) == twin(v, q.toSeq), s"$at v·q")
          assert(bits(row, 2) == twin(v, q.toSeq), s"$at q·v")
          assert(bits(row, 1) == bits(row, 3) && bits(row, 2) == bits(row, 4), s"$at vs unbound")
          assert(bits(row, 5) == twin(v, qNull) && bits(row, 5) == bits(row, 6),
            s"$at null-element literal")
          if (v != null && !v.contains(null) && v.size == q.length)
            assert(bits(row, 1) == bits(row, 7) && bits(row, 2) == bits(row, 8), s"$at vs HOF")
        }
      }
    } finally {
      cached.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("nullFreeOffset: raw reads for a null-free UnsafeArrayData only") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.graft.GraftKernel.nullFreeOffset
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.Platform
    val proj = UnsafeProjection.create(Array[DataType](ArrayType(DoubleType)))
    def unsafe(xs: Seq[Any]) = proj(InternalRow(new GenericArrayData(xs.toArray))).getArray(0).copy()
    val xs: Seq[Any] = (0 until 130).map(_.toDouble)
    val u = unsafe(xs)
    val at = nullFreeOffset(u)
    assert(at >= 0 && Platform.getDouble(u.getBaseObject, at + 8L * 129) == 129.0)
    // a null in the first, a middle and the last bitset word
    for (j <- Seq(0, 63, 64, 129)) assert(nullFreeOffset(unsafe(xs.updated(j, null))) == -1, j)
    assert(nullFreeOffset(new GenericArrayData(xs.toArray)) == -1)
    assert(nullFreeOffset(unsafe(Nil)) >= 0)
  }

  test("native dot participates in whole-stage codegen top-k plan") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val plan = Search.fusedTopK(emb, "embedding", "vec_id",
      Array.fill(64)(0.5), 5).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
  }

  test("plan regression: filters pushed to parquet, columns pruned") {
    val df = Tables.lineitem(spark, sf("sf0.001"))
      .filter(col("l_returnflag") === "A" && col("l_quantity") <= 25)
      .select("l_orderkey", "l_extendedprice")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(l_returnflag,A)"), plan.take(800))
    // pruned read schema: only the 4 referenced columns reach the scan
    val readSchema = "ReadSchema: struct<" +
      plan.split("ReadSchema: struct<")(1).split(">")(0) + ">"
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_tax"),
      readSchema)
  }

  test("plan regression: dimension join broadcasts") {
    val plan = Tables.orders(spark, sf("sf0.001"))
      .join(broadcast(Tables.customer(spark, sf("sf0.001"))),
        col("o_custkey") === col("c_custkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
  }

  test("plan regression: LSH bucket self-join is an equi join, never cartesian") {
    val e = Tables.embeddings(spark, sf("sf0.001")).select(col("vec_id"), col("embedding"))
    val b = Search.lshBuckets(e, "embedding", dim = 64, nBits = 4)
      .select(col("vec_id"), col("bucket"))
    val pairs = b.withColumnRenamed("vec_id", "a_id")
      .join(b.withColumnRenamed("vec_id", "b_id"), "bucket")
      .filter(col("a_id") < col("b_id"))
    val plan = pairs.queryExecution.executedPlan.toString
    // candidate generation must key on the bucket — the whole point of the
    // LSH scale path (d7/sim2) is avoiding O(n²) pair enumeration
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(plan.contains("Join"), plan.take(400))
  }

  test("plan regression: sessionization is one session-window aggregation") {
    val plan = graft.streaming.Streaming.sessionize(
      Tables.events(spark, sf("sf0.001"))).queryExecution.executedPlan.toString
    // batch session_window → session-merging aggregate keyed by user;
    // exactly one exchange (no extra shuffles around the window)
    assert(plan.toLowerCase.contains("session"), plan.take(800))
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges\n${plan.take(800)}")
  }

  test("plan regression: engine search = one TakeOrderedAndProject, no gather join") {
    import spark.implicits._
    val items = (0L until 200L).map(i => (i, s"item $i text", i % 7, i.toDouble))
      .toDF("row_id", "name", "cat", "price")
    val eng = FuseRankEngine.index(items, FuseRankConfig(
      idCol = "row_id", textCols = Map("name" -> 1.0),
      auxCols = Seq("price"),
      params = graft.encode.EncoderParams(numHarmonics = 4)))
    val plan = eng.search("item", Seq(graft.query.DensePointFilter("price", 50.0)), k = 5)
      .queryExecution.executedPlan.toString
    // the index holds the raw item columns: the top-k's own projection
    // outputs the answer rows, with no join back to the items table
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastExchange"),
      s"engine search grew a gather join:\n${plan.take(1200)}")
    eng.close()
  }

  test("plan regression: reranking = top-k + in-task rank, no broadcast, no window") {
    import spark.implicits._
    val items = (0L until 200L).map(i => (i, s"item $i text", i % 7, i.toDouble))
      .toDF("row_id", "name", "cat", "price")
    val eng = FuseRankEngine.index(items, FuseRankConfig(
      idCol = "row_id", textCols = Map("name" -> 1.0),
      auxCols = Seq("price"),
      params = graft.encode.EncoderParams(numHarmonics = 4)))
    val plan = eng.search("item", Seq(graft.query.DensePointFilter("price", 50.0)),
      k = 5, method = SearchMethod.Reranking)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastExchange"),
      s"reranking grew a gather join:\n${plan.take(1200)}")
    assert(!plan.contains("Window"), s"reranking grew a window:\n${plan.take(1200)}")
    eng.close()
  }

  test("plan regression: KMV sketch aggregates partial+final (mergeable, map-side)") {
    import org.apache.spark.sql.graft.KMinValues._
    import spark.implicits._
    val df = (1 to 100).map(_.toString).toDF("v").repartition(4)
      .agg(kmvDistinct(hash52(col("v")), 16))
    val plan = df.queryExecution.executedPlan.toString
    // a TypedImperativeAggregate must run as two ObjectHashAggregate
    // stages (partial per partition, final after a #groups-sized
    // exchange) — complete-mode would ship every raw row to one task,
    // which is the count-distinct shuffle the sketch exists to avoid
    val aggs = "ObjectHashAggregate".r.findAllIn(plan).size
    assert(aggs >= 2, s"expected partial+final ObjectHashAggregate:\n${plan.take(1200)}")
    assert(plan.contains("partial_graft_kmv_distinct"), plan.take(1200))
  }

  test("plan regression: d8 star edges never enumerate co-bucket pairs") {
    import graft.dedup.Components
    import spark.implicits._
    val buckets = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"))
      .toDF("doc_id", "bucket")
    val reps = buckets.groupBy(col("bucket")).agg(min(col("doc_id")).as("rep"))
    val edges = buckets.join(reps, "bucket")
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("a_id"), col("doc_id").as("b_id"))
    val plan = edges.queryExecution.executedPlan.toString
    // the d8 edge relation is ONE keyed join against the per-bucket min
    // (linear in bucket rows) — a bucket self-join here would rebuild the
    // quadratic candidate set the star construction exists to avoid
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (1L, 3L), (4L, 5L)))
    // and the components over stars equal the components over all pairs
    val starComps = Components.connectedComponents(edges, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(starComps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }
}
