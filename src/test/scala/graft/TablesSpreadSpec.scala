package graft

import graft.prep.Prep
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `Tables.spread`: a one-partition input is spread to `defaultParallelism`
  * partitions whatever its byte estimate says, and an input the estimate
  * already splits is returned as the same plan. */
class TablesSpreadSpec extends SparkSpec {

  private val MaxBytes = "spark.sql.files.maxPartitionBytes"
  private val Aqe = "spark.sql.adaptive.enabled"

  private def p = spark.sparkContext.defaultParallelism

  /** p-partition rows, and the same rows numbered by `Prep.withRowId`
    * (a global window: one partition). */
  private def base: DataFrame = spark.range(0, 2000, 1, p)
    .select((col("id") % 97).as("k"), concat(lit("item "), col("id")).as("name"))
  private def numbered: DataFrame = Prep.withRowId(base, Seq(col("k"), col("name")))

  /** A split small enough that `df`'s byte estimate alone reaches p
    * partitions, so only the `SinglePartition` rule can spread it. */
  private def splitFor(df: DataFrame): String =
    (df.queryExecution.optimizedPlan.stats.sizeInBytes / p).max(1).toString

  test("a row-numbered input the byte estimate would not spread gets p partitions, AQE off and on") {
    assert(p > 1)
    Seq("false", "true").foreach { aqe =>
      val rows = numbered // fresh: a Dataset keeps the physical plan it first planned
      withConf(Aqe -> aqe, MaxBytes -> splitFor(rows)) {
        // the estimate alone leaves a same-sized p-partition input alone …
        val b = base
        assert(Tables.spread(b) eq b, s"AQE $aqe")
        // … and the global window's one partition is spread anyway
        val spread = Tables.spread(rows)
        assert(!(spread eq rows), s"AQE $aqe")
        assert(spread.rdd.getNumPartitions == p, s"AQE $aqe")
        assert(spread.count() == 2000)
      }
    }
  }

  test("a persisted row-numbered input, projected, gets p partitions under the default AQE") {
    assert(spark.conf.get(Aqe) == "true")
    val cached = numbered.persist()
    try {
      cached.count()
      val projected = cached.select(col("row_id"), upper(col("name")).as("name"))
      withConf(MaxBytes -> splitFor(projected)) {
        val spread = Tables.spread(projected)
        assert(!(spread eq projected))
        assert(spread.rdd.getNumPartitions == p)
      }
    } finally { cached.unpersist(); () }
  }

  test("a parquet scan whose byte estimate reaches p/2 splits is returned as the same plan") {
    val li = Tables.lineitem(spark, sf("sf0.1"))
    withConf(MaxBytes -> (1L << 20).toString) {
      assert(Tables.spread(li) eq li)
    }
  }
}
