package graft

import graft.search.{Quantizer, Search}
import org.apache.spark.sql.functions._

/** IVF nearest-centroid assignment: the native reference-object expression
  * (org.apache.spark.sql.graft.IvfAssign) must be bit-identical to the
  * built-ins literal formulation at small nCentroids, and — the point of
  * its existence — must survive IVF-realistic centroid counts (≥4096)
  * where the literal form falls out of codegen (constant-pool/method-size
  * blowup), as ONE Project node over the scan.
  */
class IvfSpec extends SparkSpec {

  private def randVecs(n: Int, dim: Int, seed: Long): Seq[(Long, Array[Double])] = {
    val r = new scala.util.Random(seed)
    (0L until n.toLong).map(i => (i, Array.fill(dim)(r.nextGaussian())))
  }

  test("native assignment == literal-expression assignment (bit-identical)") {
    import spark.implicits._
    val cents = randVecs(16, 32, 7L).map(_._2).toArray
    val df = randVecs(500, 32, 8L).toDF("id", "v")
    val both = df.select(col("id"),
        Search.ivfAssign(col("v"), cents).as("native"),
        ReferenceTwins.ivfAssignLiteral(col("v"), cents).as("literal"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getInt(1) == r.getInt(2),
      s"id=${r.getLong(0)}: native=${r.getInt(1)} literal=${r.getInt(2)}"))
  }

  test("tie on distance keeps the smallest centroid id") {
    import spark.implicits._
    // duplicate centroids → identical distances; struct-min tiebreak = min cid
    val c = Array(1.0, 0.0)
    val cents = Array(Array(5.0, 5.0), c, c.clone())
    val df = Seq((0L, Array(1.0, 0.1))).toDF("id", "v")
    val got = df.select(Search.ivfAssign(col("v"), cents).as("cid")).head().getInt(0)
    assert(got == 1)
  }

  test("4096 centroids: assignment codegens as one Project over the scan") {
    val dim = 16
    val cents = randVecs(4096, dim, 11L).map(_._2).toArray
    // Range source (not LocalRelation — ConvertToLocalRelation would fold
    // the Project away); vectors derived from id via a plain array of sins
    // (a lambda HOF here would itself knock the Project out of codegen)
    val v = array((1 to dim).map(j => sin(col("id").cast("double") * j)): _*)
    val df = spark.range(2000)
      .select(col("id"), Search.ivfAssign(v, cents).as("cid"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_ivf_assign"), plan.take(2000))
    assert("Project \\[".r.findAllIn(plan).size == 1,
      "assignment must stay a single Project:\n" + plan.take(2000))
    // the `*(n)` prefix marks the whole-stage-codegen span — the literal
    // form at this centroid count would fail codegen / fall back interpreted
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(plan).isDefined,
      "Project must sit inside WholeStageCodegen:\n" + plan.take(2000))
    // and it actually executes
    val counts = df.groupBy("cid").count().count()
    assert(counts > 1, "assignments should spread over multiple centroids")
  }

  test("full knnIvf pipeline at nCentroids=64 stays correct vs brute force") {
    import spark.implicits._
    val dim = 16
    val data = randVecs(800, dim, 21L)
    val df = data.toDF("vec_id", "embedding")
    val got = Search.knn(df, "embedding", "vec_id", queryIds = Seq(0L), k = 5,
        Quantizer.flat, Some(Search.Coarse(nCentroids = 64, iters = 2, nProbe = 64)))
      .orderBy("rk").collect().map(_.getLong(1))
    // nProbe == nCentroids → probes every bucket → exact == brute force
    val q = df.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    val bf = ReferenceTwins.knnBruteForce(df, q, "embedding", "vec_id",
        "q_embedding", "q_id", 5)
      .orderBy("rk").collect().map(_.getLong(1))
    assert(got.toSeq == bf.toSeq)
  }
  /** Degenerate knn arguments are named errors, not short answers. */
  private def knnError(k: Int = 5, nProbe: Int = 2, shortlist: Int = 0,
                       ids: Seq[Long] = Seq(0L)): String = {
    import spark.implicits._
    val df = randVecs(40, 8, 3L).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException](Search.knn(df, "embedding", "vec_id", ids, k,
      Quantizer.flat, Some(Search.Coarse(4, 1, nProbe)), shortlist)).getMessage
  }

  test("knn rejects k < 1") {
    assert(knnError(k = 0).contains("k must be positive: 0"))
  }

  test("knn rejects nProbe < 1") {
    assert(knnError(nProbe = 0).contains("nProbe must be positive: 0"))
  }

  test("knn rejects a nonzero shortlist below k") {
    assert(knnError(shortlist = 3).contains("shortlist 3 smaller than k=5"))
  }

  test("knn rejects a query id absent from the table") {
    assert(knnError(ids = Seq(0L, 999L)).contains("absent from the table: 999"))
    assert(knnError(ids = Nil).contains("queryIds must be non-empty"))
  }
}
