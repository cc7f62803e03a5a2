package graft

import graft.transform._
import org.apache.spark.sql.functions._

/** Transforms vs independently-computed (pure-python, math.erf) goldens:
  * YJ MLE λ by golden-section over the log-likelihood, KS statistic vs
  * Normal(mean, std_pop) — the reference's best-transform scoring
  * (reference src/transform.py:86-102).
  */
class TransformSpec extends SparkSpec {

  private lazy val df = {
    import spark.implicits._
    Seq(1.0, 2.0, 2.5, 3.0, 4.0, 7.0, 10.0, 15.0, 22.0, 30.0).toDF("x")
  }

  test("YeoJohnson λ fit matches independent MLE (golden-section)") {
    val lam = YeoJohnson.fit(df, "x", tol = 1e-6)
    assert(math.abs(lam - (-0.17968941085781248)) < 1e-3, s"λ=$lam")
  }

  test("YeoJohnson scalar/column agreement incl. negative branch") {
    import spark.implicits._
    val vals = Seq(-5.0, -0.5, 0.0, 0.5, 5.0)
    for (l <- Seq(-0.5, 0.0, 1.0, 2.0, 1.3)) {
      val t = YeoJohnson(l)
      val fromCol = vals.toDF("x").select(t(col("x"))).collect().map(_.getDouble(0))
      vals.zip(fromCol).foreach { case (x, c) =>
        assert(math.abs(t.applyScalar(x) - c) < 1e-12, s"x=$x λ=$l")
      }
    }
  }

  test("KS statistic matches golden for each transform") {
    def ks(c: org.apache.spark.sql.Column): Double =
      Transforms.ksStatistics(df, Seq("v" -> c))("v")
    assert(math.abs(ks(col("x")) - 0.22846809882440905) < 1e-6)
    assert(math.abs(ks(Log2p1(col("x"))) - 0.165939627803399) < 1e-6)
    assert(math.abs(ks(SqrtT(col("x"))) - 0.20184076149318964) < 1e-6)
    assert(math.abs(ks(Reciprocal()(col("x"))) - 0.19538077783436125) < 1e-6)
  }

  test("bestTransform picks YeoJohnson on this data (lowest KS)") {
    val best = Transforms.bestTransform(df, "x")
    assert(best.exists(_.name == "yeojohnson"), s"got $best")
  }

  test("negative data: Log2p1/SqrtT raise on scalar, are skipped in bestTransform") {
    import spark.implicits._
    val neg = Seq(-1.0, 2.0, 5.0, 9.0, 12.0, 20.0).toDF("x")
    intercept[IllegalArgumentException](Log2p1.applyScalar(-1.0))
    intercept[IllegalArgumentException](SqrtT.applyScalar(-1.0))
    val best = Transforms.bestTransform(neg, "x")
    assert(best.forall(t => t.name == "reciprocal" || t.name == "yeojohnson"))
  }

  test("all-null candidate column: KS = 1.0 (rejected), no exception") {
    import spark.implicits._
    val mixed = Seq((1.0, Option.empty[Double]), (2.0, None), (5.0, None))
      .toDF("x", "allnull")
    // one live candidate + one all-null candidate in the same pass
    val ks = Transforms.ksStatistics(mixed,
      Seq("live" -> col("x"), "dead" -> col("allnull")))
    assert(ks("dead") == 1.0, s"dead ks=${ks("dead")}")
    assert(ks("live") > 0.0 && ks("live") < 1.0, s"live ks=${ks("live")}")
    // every candidate all-null (the column itself is null)
    val ksAll = Transforms.ksStatistics(mixed, Seq("dead" -> col("allnull")))
    assert(ksAll == Map("dead" -> 1.0), s"$ksAll")
    // bestTransform on an all-null column: every candidate rejected -> None
    assert(Transforms.bestTransform(mixed, "allnull").isEmpty)
  }

  test("above the histogram cap: the per-λ fit and the bucketed KS, in fewer jobs") {
    // MaxFitHistogram + 1 distinct non-negative values: the fit takes the
    // per-λ aggregation jobs and the KS its bucketed path. The expected
    // values are those of the three-collect fit this one replaced (best
    // SqrtT, 72 jobs); aggregates fix no merge order, hence the 1e-9.
    val wide = spark.range(YeoJohnson.MaxFitHistogram + 1)
      .select((col("id") * col("id") / 1e6).as("x"))
    val (fit, trace) = org.apache.spark.sql.graft.QueryTrace.during(spark, "fit")(
      Transforms.fit(wide, "x"))
    assert(fit.best.contains(SqrtT), fit)
    assert(math.abs(fit.lambda - 0.35584572911192736) < 1e-9, fit.lambda)
    assert(math.abs(fit.ks.toMap.apply(SqrtT) - 0.057209280180061106) < 1e-9, fit.ks)
    assert(trace.jobs.size < 72, trace.jobs.size)
  }
}
