package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.types._

/** Table access for the driver testdata layout (`TESTDATA.md`): one parquet
  * file per table under a scale-factor directory. All queries receive the
  * directory and resolve tables through here so the read path (schema
  * pruning, pushdown) is uniform.
  */
object Tables {
  // DataFrame (logical plan) cache per (session, path): repeated queries in
  // one session reuse the resolved relation — file listing + schema read
  // happen once per table, not once per query. No data is cached.
  private val dfCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    dfCache.getOrElseUpdate((spark, s"$dir/$name.parquet"),
      spark.read.parquet(s"$dir/$name.parquet"))

  /** Spread a (possibly single-row-group, therefore single-task) scan
    * across the cluster before per-row-heavy narrow work. Round-robin
    * shuffle to `p = defaultParallelism` partitions; callers re-establish
    * output order downstream. Never repartitions when p ≤ 1.
    *
    * Spread when either rule holds:
    *  - size: the parallelism estimate = optimizer size stats /
    *    maxPartitionBytes is below p/2 — the same quantity the file-scan
    *    partitioner uses, so many small files that Spark packs into few
    *    tasks still trigger the spread, and one huge file (split into many
    *    tasks) correctly skips it;
    *  - `SinglePartition`: the physical plan's output partitioning is
    *    `SinglePartition` — a global window (`Prep.withRowId`), a global
    *    limit, a `coalesce(1)`, or a cached scan of any of these — so
    *    every row already sits in one partition, whatever the size says.
    *
    * Under AQE the prepared plan is an `AdaptiveSparkPlanExec`, which
    * reports `UnknownPartitioning` until its stages have run, so the rule
    * reads its `initialPlan` (exchanges already placed). Fallback: a plan
    * that reports no partitioning is judged by size alone. Plan-level
    * only: no plan→RDD conversion, no job. */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    def singlePartition = (df.queryExecution.executedPlan match {
      case aqe: AdaptiveSparkPlanExec => aqe.initialPlan
      case plan => plan
    }).outputPartitioning == SinglePartition
    def estParts = scala.util.Try {
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val split = BigInt(df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
      ((bytes + split - 1) / split).toLong
    }.getOrElse(p.toLong)
    if (p > 1 && (estParts < p / 2 || singlePartition)) df.repartition(p) else df
  }

  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  /** `events.ts` is parquet TIMESTAMP(NANOS) — unsupported by Spark's
    * vectorized reader. Sessions set `spark.sql.legacy.parquet.nanosAsLong`;
    * here the nanos long is converted back to a (UTC) timestamp so query
    * code sees a plain TimestampType column either way.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** The reference's one in-repo real dataset
    * (reference `data/restaurants/restaurants.csv`, 9,556 rows; see
    * FIXTURES.md §1). Explicit schema — Spark CSV inference differs from
    * pandas (`src/load.py:21-22` relies on pandas dtype inference).
    */
  val restaurantsSchema: StructType = StructType(Seq(
    StructField("Restaurant ID", LongType),
    StructField("Restaurant Name", StringType),
    StructField("Country Code", IntegerType),
    StructField("City", StringType),
    StructField("Address", StringType),
    StructField("Locality", StringType),
    StructField("Locality Verbose", StringType),
    StructField("Longitude", DoubleType),
    StructField("Latitude", DoubleType),
    StructField("Cuisines", StringType),
    StructField("Average Cost for two", LongType),
    StructField("Currency", StringType),
    StructField("Has Table booking", StringType),
    StructField("Has Online delivery", StringType),
    StructField("Is delivering now", StringType),
    StructField("Switch to order menu", StringType),
    StructField("Price range", IntegerType),
    StructField("Aggregate rating", DoubleType),
    StructField("Rating color", StringType),
    StructField("Rating text", StringType),
    StructField("Votes", LongType)
  ))

  /** Flipkart-schema synthetic fixture (the reference's primary dataset,
    * reference src/load_flipkart.py:11-49, has its CSV stripped from the
    * checkout — tools/make_flipkart_synth.py regenerates this deterministic
    * 20K-row twin of its schema and value conventions). */
  val flipkartSchema: StructType = StructType(Seq(
    StructField("uniq_id", StringType),
    StructField("crawl_timestamp", StringType),
    StructField("product_url", StringType),
    StructField("product_name", StringType),
    StructField("product_category_tree", StringType),
    StructField("pid", StringType),
    StructField("retail_price", LongType),
    StructField("discounted_price", LongType),
    StructField("image", StringType),
    StructField("is_FK_Advantage_product", StringType),
    StructField("description", StringType),
    StructField("product_rating", StringType),
    StructField("overall_rating", StringType),
    StructField("brand", StringType),
    StructField("product_specifications", StringType)
  ))

  val flipkartCsvPath = "/root/repo/data/flipkart/flipkart_synth.csv.gz"

  /** S1 CSV scan of the flipkart-shaped fixture (same reader options as
    * [[restaurants]] — header, RFC4180 quote/escape). */
  def flipkartSynth(spark: SparkSession,
                    path: String = flipkartCsvPath): DataFrame =
    spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .schema(flipkartSchema)
      .csv(path)

  val restaurantsCsvPath = "/root/reference/data/restaurants/restaurants.csv"

  /** S1 CSV scan (reference `src/load.py:21-22`). */
  def restaurants(spark: SparkSession,
                  path: String = restaurantsCsvPath): DataFrame =
    spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .schema(restaurantsSchema)
      .csv(path)
}
