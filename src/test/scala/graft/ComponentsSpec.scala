package graft

import graft.dedup.Components
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.QueryTrace

/** Connected components for dedup clustering: fixpoint correctness on
  * known graphs (chains exercise pointer jumping, cliques the common
  * near-dup shape), singleton assignment, partitioning-invariance, and
  * the loud non-convergence guard. */
class ComponentsSpec extends SparkSpec {

  private def edgeDf(es: Seq[(Long, Long)], parts: Int = 1) = {
    import spark.implicits._
    spark.sparkContext.parallelize(es, parts).toDF("a", "b")
  }

  private def compMap(es: Seq[(Long, Long)], parts: Int = 1): Map[Long, Long] =
    Components.connectedComponents(edgeDf(es, parts), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain of diameter 7 converges to the min label") {
    // 1-2-3-4-5-6-7-8: plain propagation needs 7 rounds; pointer jumping
    // must still reach the unique fixpoint well inside maxIter
    val m = compMap((1L to 7L).map(i => (i, i + 1)))
    assert(m.keySet == (1L to 8L).toSet)
    assert(m.values.toSet == Set(1L))
  }

  test("disjoint clique + chain + edge get distinct min labels") {
    val clique = for { i <- 10L to 13L; j <- (i + 1) to 13L } yield (i, j)
    val m = compMap(clique ++ Seq((1L, 2L), (2L, 3L), (20L, 21L)))
    assert(m(1L) == 1L && m(2L) == 1L && m(3L) == 1L)
    assert((10L to 13L).forall(m(_) == 10L))
    assert(m(20L) == 20L && m(21L) == 20L)
  }

  test("result is identical across input partitionings") {
    val es = Seq((5L, 9L), (9L, 2L), (7L, 8L), (3L, 5L), (11L, 2L))
    assert(compMap(es, parts = 1) == compMap(es, parts = 4))
  }

  test("multi-round run pins exactly one checkpoint block-set; release() frees it") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // diameter-7 chain: several propagate+jump rounds, so superseded
    // rounds' checkpoints MUST have been released along the way
    val labels = Components.connectedComponents(
      edgeDf((1L to 7L).map(i => (i, i + 1)), parts = 2), "a", "b")
    labels.collect()
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.size == 1,
      s"expected ONE pinned block-set (the final labels), got ${during.size}")
    Components.release(labels)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "release() must free the final checkpoint")
  }

  test("non-convergence fails loudly, never a partial clustering") {
    val ex = intercept[IllegalArgumentException] {
      Components.connectedComponents(edgeDf(Seq((1L, 2L), (2L, 3L))), "a", "b",
        maxIter = 0)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("random graphs match a driver-side union-find golden") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      // sparse random graph: many small components, some chains
      val n = 120
      val es = Seq.fill(90)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver golden: plain union-find with min-label normalization
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val golden = nodes.map(v => v -> find(v)).toMap
      assert(compMap(es, parts = 3) == golden, s"trial $trial diverged")
    }
  }

  test("connectedComponentsAuto: local path == distributed; gate forces either path") {
    val rnd = new scala.util.Random(7)
    // cliques + chains + isolated edges, with ids that exercise ordering
    val es = (Seq.fill(120)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter { case (a, b) => a != b } ++
      Seq((1000L, 1001L), (1001L, 1002L), (1002L, 1003L), (5L, 1000L)))
    val df = edgeDf(es, parts = 4)
    def toMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Components.connectedComponents(df, "a", "b")
    val local = Components.connectedComponentsAuto(df, "a", "b")
    assert(toMap(local) == toMap(dist), "local union-find diverged from distributed")
    // cap 0 must route the SAME entry point through the distributed loop
    val forced = Components.connectedComponentsAuto(df, "a", "b", localEdgeCap = 0L)
    assert(toMap(forced) == toMap(dist))
    Components.release(dist)
    Components.release(forced)
  }

  test("connectedComponentsAuto fast path runs exactly ONE Spark job (gate+gather fusion)") {
    // the r13 contract: the size gate's edge count and the fast path's
    // edge gather are one treeAggregate — a regression back to
    // count-then-collect would double the scheduling cost of every small
    // dedup graph (x26/d8 pay this per run). Job-count pinned via
    // QueryTrace; the labeling itself is driver-local (no further jobs).
    val df = edgeDf(Seq((1L, 2L), (2L, 3L), (10L, 11L)), parts = 3)
    df.count() // materialize the input lineage outside the window
    val (out, gate) = QueryTrace.during(spark, "cc-fast-path") {
      Components.connectedComponentsAuto(df, "a", "b")
    }
    val jobsBeforeCollect = gate.jobs.size
    assert(jobsBeforeCollect == 1,
      s"fast path submitted $jobsBeforeCollect jobs; the gate+gather fusion requires 1")
    // result is a LOCAL relation: collecting it must not run another job
    val (rows, collected) = QueryTrace.during(spark, "cc-collect")(out.collect())
    val m = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(collected.jobs.isEmpty,
      "collecting the fast-path labeling ran a Spark job — result should be driver-local")
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("sf0.1 real star-edge graph: Spark CC == driver union-find (uncapped witness)") {
    // the UNCAPPED d8 edge derivation at sf0.1 scale (VERDICT r6 ask #6):
    // real MinHash-LSH buckets over the full 5000-doc corpus, checked
    // against an independent driver-side union-find. Bounded collect —
    // star edges are ≤ #bucket-memberships (2 per doc), not doc pairs.
    val edgesDf = graft.queries.TextDedup.starEdges(spark, sf("sf0.1"))
    try {
      val es = edgesDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(es.nonEmpty, "sf0.1 corpus produced no candidate edges")
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val golden = nodes.map(v => v -> find(v)).toMap
      val sparkCc = Components.connectedComponents(edgesDf, "a_id", "b_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sparkCc.size == golden.size,
        s"node counts differ: spark ${sparkCc.size} vs golden ${golden.size}")
      val diverged = sparkCc.collect {
        case (id, c) if golden(id) != c => (id, c, golden(id))
      }
      assert(diverged.isEmpty,
        s"${diverged.size} nodes diverged, e.g. ${diverged.take(5)}")
    } finally spark.catalog.clearCache() // starEdges persists its buckets
  }

  test("assign: one giant component sizes correctly (skew shape)") {
    // every doc collapses into component 1 — the degenerate corpus that
    // used to hit a single-partition window; sizes must still be exact
    import spark.implicits._
    val n = 500L
    val docs = (1L to n).toDF("doc_id")
    val comps = Components.connectedComponents(
      edgeDf((1L until n).map(i => (i, i + 1)), parts = 4), "a", "b")
    val out = Components.assign(docs, "doc_id", comps).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == n)
    assert(out.forall { case (_, comp, size) => comp == 1L && size == n })
  }

  test("assign: singletons cluster as themselves, sizes count members") {
    import spark.implicits._
    val docs = (1L to 6L).toDF("doc_id")
    val comps = Components.connectedComponents(
      edgeDf(Seq((1L, 2L), (2L, 4L))), "a", "b")
    val out = Components.assign(docs, "doc_id", comps)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 3L, 1L),
      (4L, 1L, 3L), (5L, 5L, 1L), (6L, 6L, 1L)))
  }
}
