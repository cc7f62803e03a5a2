package org.apache.spark.sql.graft

import graft.SparkSpec

/** QueryTrace counts exactly its own body's work: actions as
  * ActionCountSpec defines them, jobs scoped to the body's job group, a
  * driver gap inside the wall time, the classes it compiled, and no
  * listener or job group left behind when the body throws. */
class QueryTraceSpec extends SparkSpec {

  private def sumQuery() = spark.range(0, 100, 1, 2).selectExpr("sum(id)")

  test("actions: one collect counts 1, two count 2, a lazy body counts 0") {
    assert(QueryTrace.during(spark, "one")(sumQuery().collect())._2.actions == 1)
    assert(QueryTrace.during(spark, "two") {
      sumQuery().collect(); sumQuery().collect()
    }._2.actions == 2)
    val (_, lazyTrace) = QueryTrace.during(spark, "none")(sumQuery().select("sum(id)"))
    assert(lazyTrace.actions == 0 && lazyTrace.jobs.isEmpty)
  }

  test("an RDD action outside SQL execution counts as 1 action") {
    val (n, t) = QueryTrace.during(spark, "rdd")(spark.sparkContext.parallelize(1 to 10, 2).count())
    assert(n == 10L)
    assert(t.actions == 1 && t.jobs.size == 1)
    assert(t.taskMs >= 0 && t.shuffleWriteBytes == 0L)
  }

  test("jobs another thread submits under another job group do not leak in") {
    val otherGroup = s"query-trace-spec-other-${System.nanoTime()}"
    val (_, t) = QueryTrace.during(spark, "own") {
      val other = new Thread(() => {
        spark.sparkContext.setJobGroup(otherGroup, "other")
        sumQuery().collect(); sumQuery().collect()
        spark.sparkContext.clearJobGroup()
      })
      other.start()
      sumQuery().collect()
      other.join()
    }
    assert(t.actions == 1, s"trace counted ${t.actions} actions: ${t.jobs}")
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(otherGroup).nonEmpty,
      "the other thread's jobs never ran, so the test proves nothing")
  }

  test("driver gap lies within the wall time; jobs carry ids and times") {
    val (_, t) = QueryTrace.during(spark, "gap") {
      sumQuery().collect()
      Thread.sleep(30) // driver-only time between two actions
      spark.range(0, 1000, 1, 4).selectExpr("id % 7 as k").groupBy("k").count().collect()
    }
    assert(t.wallMs > 0.0)
    assert(0.0 <= t.gapMs && t.gapMs <= t.wallMs, s"gap ${t.gapMs} vs wall ${t.wallMs}")
    assert(t.gapMs >= 25.0, s"the 30 ms driver sleep is missing from the gap: ${t.gapMs}")
    assert(t.actions == 2 && t.jobs.nonEmpty)
    assert(t.jobs.map(_.id) == t.jobs.map(_.id).sorted && t.jobs.forall(_.ms >= 0.0))
    assert(t.shuffleWriteBytes > 0L, "the groupBy's shuffle write was not recorded")
  }

  test("compiles counts the classes the body compiled; a cached class counts 0") {
    // a long literal is written into the generated source: a new value is a new class
    val q = spark.range(0, 10, 1, 1).selectExpr(s"id * ${System.nanoTime()}L as x")
    val (_, first) = QueryTrace.during(spark, "fresh")(q.collect())
    assert(first.compiles >= 1, first)
    val (_, again) = QueryTrace.during(spark, "again")(q.collect())
    assert(again.compiles == 0, again)
    assert(again.json.contains("\"compiles\":0"), again.json)
  }

  test("a throwing body leaves no listener attached and no job group set") {
    val ex = intercept[IllegalStateException] {
      QueryTrace.during(spark, "throws") {
        sumQuery().collect()
        throw new IllegalStateException("boom")
      }
    }
    assert(ex.getMessage == "boom")
    assert(spark.sparkContext.listenerBus.findListenersByClass[QueryTrace.Recorder]().isEmpty)
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
  }
}
