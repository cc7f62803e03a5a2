package graft
import org.apache.spark.sql.graft.QueryTrace.jsonString
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (iteration aid; the
    // driver always runs the full suite with two args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)          => (s, o, Set.empty[String])
      case Array(s, o, f @ _*)  => (s, o, f.flatMap(_.split(",")).toSet)
    }
    // Split size derived from the data, exactly like Bench: at sf1 the
    // 30 MB documents.parquet is ONE 128 MB-default split, so a heavy
    // row-local projection (x9's interpreted LangId expression measured
    // 16+ CPU-minutes at sf1) serializes into a single task — the dump
    // then runs at 1-core speed however many cores the session has.
    // Row content is split-invariant: every hashed query ends in a global
    // ORDER BY, re-applied within the single output partition below.
    val spark = LocalSpark.session(conf = Seq("spark.sql.files.maxPartitionBytes" ->
      LocalSpark.splitBytes(sfDir, LocalSpark.cpus).toString))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // coalesce(1) concatenates sorted shuffle partitions in partition
        // order, which is NOT guaranteed to preserve a global sort (AQE
        // coalescing, sample-skewed ranges). Re-apply the query's own
        // top-level ORDER BY inside the single output partition so the
        // written row order always matches the oracle's.
        val sorted = df.queryExecution.analyzed match {
          case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global =>
            df.coalesce(1).sortWithinPartitions(
              s.order.map(org.apache.spark.sql.graft.Bridge.column): _*)
          case _ => df.coalesce(1)
        }
        sorted.write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop intermediates persisted inside queries (d3/d7/KS) — same
      // accumulation hygiene as Bench.runOne
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
