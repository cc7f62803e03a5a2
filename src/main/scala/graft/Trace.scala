package graft

import org.apache.spark.sql.graft.QueryTrace

/** Per-query trace of the bench suite: one JSON line per registered query
  * (or per named query), tagged with the query name: wall time, actions,
  * jobs, task time, shuffle write and spill bytes, driver gap, classes
  * compiled (`compiles`, a JVM-global count; see [[QueryTrace.Trace]])
  * and every job's (id, ms, description). Runs on Bench's own session
  * ([[Bench.session]]), so a trace explains Bench's numbers. Each query
  * runs once untraced to warm up, then the caches are cleared and it runs
  * once traced, counted like Bench counts it. A query that throws keeps
  * its line, with an `error` field and the jobs it ran before failing.
  * The first line is the host calibration, `{"calibration_s": …}`:
  * [[Bench.calibMedian]] after one discarded [[Bench.calibProbe]], so
  * two traces from different hosts or loads can be told apart.
  *
  * Usage: `runMain graft.Trace <sfDir> [query…]`; the committed
  * `traces/sf0.1.jsonl` is this main's output on sf0.1.
  */
object Trace {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Trace <sfDir> [query...]")
    val sfDir = args.head
    val names = args.tail.toSet
    val spark = Bench.session(sfDir)
    Bench.calibProbe(spark)
    println(QueryTrace.jsonObject(Seq("calibration_s" -> Bench.calibMedian(spark).toString)))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => names.isEmpty || names(name) }
      .foreach { case (name, fn) =>
        def run(): Option[Throwable] =
          try { fn(spark, sfDir).count(); None } catch { case t: Throwable => Some(t) }
        run()
        spark.catalog.clearCache()
        val (failure, trace) = QueryTrace.during(spark, name)(run())
        spark.catalog.clearCache()
        val error = failure.map(t => "error" -> QueryTrace.jsonString(t.toString.take(500)))
        println(QueryTrace.jsonObject(trace.fields ++ error))
      }
    spark.stop()
  }
}
