package graft

import org.apache.spark.sql.SparkSession

/** The one way the harness builds a SparkSession: `local[cores]` with one
  * shuffle partition per core, UTC session time, parquet TIMESTAMP(NANOS)
  * read as long (events.parquet; `Tables.events` converts it back) and no
  * UI. Callers add their own conf pairs, which win over these. Harness
  * config, not library config: a cluster deployment sizes all of this
  * itself. */
object LocalSpark {

  /** Cores of every harness main: SPARK_GRAFT_CPUS, default 32. */
  lazy val cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption).filter(_ > 0).getOrElse(32)

  def session(cores: Int = cpus, conf: Seq[(String, String)] = Nil,
              logLevel: String = "WARN"): SparkSession = {
    val base = Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false")
    val spark = (base ++ conf).foldLeft(SparkSession.builder().master(s"local[$cores]")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Data-sized scan split for `sfDir`: about 2 tasks per core on the
    * largest table, clamped to [2 MB, Spark's 128 MB default].
    *
    * SF-sized inputs are single-digit-MB parquet files, so at the default
    * split every scan is ONE task and narrow pipelines run on one core.
    * A FIXED small split is wrong across scale decades: at sf10 a 2 MB
    * split turned a 1.2 GB lineitem scan into ~600 tasks, each parsing
    * the full multi-hundred-row-group footer — #tasks and footer size both
    * grow with data, so total overhead grows QUADRATICALLY (t2_sqrt:
    * 7.97 s at 2 MB vs 0.32 s at 128 MB, same data, same plan). sf0.1 and
    * sf1 land on the 2 MB floor; sf10 gets ~19 MB splits. The walk is
    * recursive: a partitioned table (nested key=value dirs) must count
    * its leaf files, else it reads as 0 bytes and drags the split to the
    * floor. Row content is split-invariant. */
  def splitBytes(sfDir: String, cores: Int): Long = {
    val maxTableBytes = scala.util.Try {
      def bytes(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(bytes).sum else f.length
      new java.io.File(sfDir).listFiles().map(bytes).max
    }.getOrElse(0L)
    (maxTableBytes / (2L * cores.max(1))).max(2L << 20).min(128L << 20)
  }
}
