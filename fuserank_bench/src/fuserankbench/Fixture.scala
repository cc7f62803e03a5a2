package fuserankbench

import graft.{FuseRankConfig, FuseRankEngine, Tables}
import graft.prep.Prep
import graft.transform.Log2p1
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The 20K-row Flipkart-schema fixture, prepped as the reference loader
  * does (`Flipkart.lazySearch`'s chain) and indexed with the loader's full
  * modality set: three weighted text columns, sparse brand and category
  * columns, a binary column and two log-transformed dense price columns.
  */
object Fixture {

  val CsvPath = "data/flipkart/flipkart_synth.csv.gz"

  val Sparse: Seq[String] =
    Seq("brand", "product_category_1", "product_category_2", "product_category_3")
  val Binary = "is_FK_Advantage_product"
  val Dense: Seq[String] = Seq("discounted_price", "retail_price")
  val AuxCols: Seq[String] = Sparse ++ Seq(Binary) ++ Dense

  val Config: FuseRankConfig = FuseRankConfig(
    idCol = "row_id",
    textCols = Map("product_name" -> 0.4, "description" -> 0.3,
      "product_specifications_clean" -> 0.3),
    auxCols = AuxCols,
    presetTransforms = Map("retail_price" -> Log2p1, "discounted_price" -> Log2p1))

  /** Scan, fill, split, scrub and row-number the CSV (lazy). */
  def prepped(spark: SparkSession): DataFrame = {
    val raw = Tables.spread(Tables.flipkartSynth(spark, CsvPath))
    val filled = raw
      .withColumn("brand", coalesce(col("brand"), lit("n/a")))
      .withColumn("description", coalesce(col("description"), lit("n/a")))
    val shaped = Prep.flipkartShape(filled, "product_category_tree", "product_specifications")
      .withColumn("product_specifications_clean",
        coalesce(col("product_specifications_clean"), lit("")))
      .drop("pid", "uniq_id", "image", "product_rating", "overall_rating",
        "product_category_tree", "product_url", "crawl_timestamp",
        "product_specifications")
    Prep.withRowId(shaped, Seq(
      col("product_name"), col("brand"), col("description"),
      col("product_category_1"), col("product_category_2"),
      col("product_category_3"), col("product_specifications_clean"),
      col("is_FK_Advantage_product"), col("retail_price"),
      col("discounted_price")))
  }

  /** Prep persisted and materialized. */
  def items(spark: SparkSession): DataFrame = {
    val items = prepped(spark).persist()
    items.count()
    items
  }

  final case class Indexed(items: DataFrame, engine: FuseRankEngine) {
    def close(): Unit = { engine.close(); items.unpersist(); () }
  }

  /** The workload set-up: prep plus the engine's index build, both
    * materialized. */
  def index(spark: SparkSession): Indexed = {
    val it = items(spark)
    val engine = FuseRankEngine.index(it, Config)
    engine.indexed.count()
    Indexed(it, engine)
  }

  /** The generator's value domains, read from the prepped items. */
  def vocab(items: DataFrame): Gen.Vocab = {
    val tokens = items.select(col("product_name")).collect()
      .flatMap(r => Option(r.getString(0)).toSeq)
      .flatMap(_.toLowerCase.split("[^a-z]+"))
      .filter(_.length >= 3).distinct.sorted.toIndexedSeq
    def domain(c: String): IndexedSeq[String] =
      items.select(col(c).cast("string")).where(col(c).isNotNull).distinct()
        .collect().map(_.getString(0)).sorted.toIndexedSeq
    val bounds = items.agg(
      min("discounted_price"), max("discounted_price"),
      min("retail_price"), max("retail_price")).head()
    Gen.Vocab(tokens,
      sparse = Sparse.map(c => c -> domain(c)).toMap,
      binary = Map(Binary -> domain(Binary)),
      dense = Map(
        "discounted_price" -> (bounds.getLong(0).toDouble, bounds.getLong(1).toDouble),
        "retail_price" -> (bounds.getLong(2).toDouble, bounds.getLong(3).toDouble)))
  }

  /** Block-manager memory plus disk of every persisted RDD, in MB. */
  def cachedMb(spark: SparkSession): Double =
    org.apache.spark.sql.fuserankbench.Storage.cachedBytes(spark) / 1e6
}
