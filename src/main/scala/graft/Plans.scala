package graft
/** Plan inspection main: prints the formatted physical plan of named
  * queries (all when none given) for pushdown/pruning/broadcast review. */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args.head else "/root/testdata/sf0.01"
    val names = args.drop(1)
    val spark = LocalSpark.session(cores = 4, logLevel = "ERROR")
    val qs = SparkEntry.queries
    val chosen = if (names.nonEmpty) names.toSeq else qs.keys.toSeq.sorted
    chosen.foreach { n =>
      println(s"\n===== $n =====")
      qs(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
