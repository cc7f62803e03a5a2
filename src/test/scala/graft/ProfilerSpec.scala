package graft

import graft.profile.{ModalityKind, Profiler}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.QueryTrace

/** Two-phase profile: the vocabulary cap must fail LOUDLY from the exact
  * phase-1 distinct counts — before any `collect_set` buffers are built —
  * and the common case must stay at ≤2 aggregation jobs.
  */
class ProfilerSpec extends SparkSpec {

  test("above-MaxVocab column fails the cap check, not the executors") {
    // 10001 distinct strings: the old shape would materialize + ship the
    // whole set before checking; the two-phase profile must throw from
    // the countDistinct alone (phase 2 for this column never runs)
    val wide = spark.range(Profiler.MaxVocab + 1)
      .select(concat(lit("url-"), col("id")).as("u"))
    val ex = intercept[IllegalArgumentException] {
      Profiler.profile(wide, Seq("u"))
    }
    assert(ex.getMessage.contains(s"above MaxVocab=${Profiler.MaxVocab}"))
    assert(ex.getMessage.contains((Profiler.MaxVocab + 1).toString))
  }

  /** Job count for `body` ([[QueryTrace]], scoped to its own job group),
    * with AQE pinned OFF so one action = one job (AQE materializes each
    * exchange as its own job, which would make the count an AQE-stage
    * count, not an action count). */
  private def countJobs[A](tag: String)(body: => A): (A, Int) = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (out, trace) = try QueryTrace.during(spark, tag)(body)
      finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    (out, trace.jobs.size)
  }

  test("common-case profile runs at most 2 jobs and matches single-pass results") {
    import spark.implicits._
    val df = Seq(
      ("berlin", "yes", 10.0), ("oslo", "no", 20.0), ("berlin", "yes", 30.0),
      ("madrid", "no", 40.0), ("oslo", "yes", 50.0))
      .toDF("city", "booked", "price")
    val (p, jobs) = countJobs("common")(Profiler.profile(df, Seq("city", "booked", "price")))
    assert(jobs <= 2, s"profile ran $jobs jobs — expected phase-1 + vocab only")
    assert(p("city").kind == ModalityKind.Sparse)
    assert(p("city").nDistinct == 3)
    assert(p("city").distinctSorted == Seq("berlin", "madrid", "oslo"))
    assert(p("booked").kind == ModalityKind.Binary)
    assert(p("booked").binaryValues == ("no", "yes"))
    assert(p("price").kind == ModalityKind.Dense)
    assert(p("price").min == 10.0 && p("price").max == 50.0)
    assert(p("price").distinctSorted.isEmpty)
  }

  test("numeric-only profile stays at 1 job (no vocabulary phase)") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("x")
    val (p, jobs) = countJobs("numeric")(Profiler.profile(df, Seq("x")))
    assert(jobs == 1, s"numeric-only profile ran $jobs jobs")
    assert(p("x").kind == ModalityKind.Dense)
  }
}
