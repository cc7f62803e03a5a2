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

  test("plan regression: engine search = broadcast gather + TakeOrderedAndProject") {
    import spark.implicits._
    val items = (0L until 200L).map(i => (i, s"item $i text", i % 7, i.toDouble))
      .toDF("row_id", "name", "cat", "price")
    val eng = FuseRankEngine.index(items, FuseRankConfig(
      idCol = "row_id", textCols = Map("name" -> 1.0),
      auxCols = Seq("price"),
      params = graft.encode.EncoderParams(numHarmonics = 4)))
    val plan = eng.search("item", Seq(graft.query.DensePointFilter("price", 50.0)), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    // the BROADCAST side must be the k-row top-k, not the items table
    // (items at 100 TB cannot be broadcast): in the printed tree the
    // BroadcastExchange node sits ABOVE the TakeOrderedAndProject subtree,
    // so it prints first; broadcasting items would print them reversed.
    assert(plan.indexOf("BroadcastExchange") >= 0 &&
      plan.indexOf("BroadcastExchange") < plan.indexOf("TakeOrderedAndProject"),
      s"broadcast is not on the top-k side:\n${plan.take(1200)}")
    eng.close()
  }

  test("plan regression: reranking gather broadcasts the top-k side") {
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
    assert(plan.indexOf("BroadcastExchange") >= 0 &&
      plan.indexOf("BroadcastExchange") < plan.indexOf("TakeOrderedAndProject"),
      s"rerank gather broadcast is not on the top-k side:\n${plan.take(1200)}")
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
