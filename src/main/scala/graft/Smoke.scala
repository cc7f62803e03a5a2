package graft
/** Local replica of the driver's t1 smoke: SparkEntry.entry must return >0
  * rows on sf0.001. Prints the row count and the top rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session(cores = 4)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n")
    df.show(10, truncate = false)
    require(n > 0, "entry returned 0 rows")
    spark.stop()
  }
}
